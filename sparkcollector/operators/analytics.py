"""Event-analytics operators (funnel / retention) — the queries the
reference's `sql` monitor and signalfx dashboards run against event
streams, re-expressed as distributed plans.

Both are classic product-analytics shapes with a known quadratic trap
(the naive formulations are order-dependent self-joins); the
implementations here keep every stage a keyed aggregate or a keyed
join so the plan survives 10^12 events.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def _ordered_series(
    df: DataFrame, key_col: str, order_col: str, value_col: str
):
    """Per key, the ``value_col`` series in ``order_col`` order: a
    ``(key, _pts)`` frame with ``_pts`` the sorted ``(o, x)`` structs,
    and ``xs``, the column of its values that the in-row folds run
    over.  One grouped pass; state O(points-per-key)."""
    per_key = df.groupBy(F.col(key_col).alias("key")).agg(
        F.sort_array(
            F.collect_list(
                F.struct(
                    F.col(order_col).alias("o"),
                    F.col(value_col).cast("double").alias("x"),
                )
            )
        ).alias("_pts")
    )
    return per_key, F.transform("_pts", lambda p: p["x"])


def _cents_grid(df: DataFrame, score_col, label_col) -> DataFrame:
    """``(v, c, pos)``: rows and positive labels per distinct score,
    the score rounded to integer cents — the bounded grid the binary
    classifier statistics run on instead of raw rows."""
    return df.select(
        F.round(score_col.cast("double") * 100).cast("long").alias("v"),
        label_col.cast("double").alias("y"),
    ).groupBy("v").agg(
        F.count(F.lit(1)).cast("double").alias("c"),
        F.sum("y").alias("pos"),
    )


def _midrank_auc(df: DataFrame, score_col, label_col):
    """Rank-sum AUC with midranks for ties over the cents grid: the
    one-row ``(rpos, npos, nneg)`` reduction, and the AUC column
    ``U/(n+ n-)`` to select from it."""
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    ranked = _cents_grid(df, score_col, label_col).select(
        "v", "c", "pos",
        (
            F.coalesce(F.sum("c").over(w), F.lit(0.0))
            + (F.col("c") + 1) / 2
        ).alias("midrank"),
    )
    agg = ranked.agg(
        F.sum(F.col("pos") * F.col("midrank")).alias("rpos"),
        F.sum("pos").alias("npos"),
        F.sum(F.col("c") - F.col("pos")).alias("nneg"),
    )
    auc = (
        F.col("rpos") - F.col("npos") * (F.col("npos") + 1) / 2
    ) / (F.col("npos") * F.col("nneg"))
    return agg, auc


def _confusion_sweep(df: DataFrame, score_col, label_col) -> DataFrame:
    """The confusion counts of 'positive iff score >= v/100' at every
    cutoff ``v`` of the cents grid: ``(v, tp, fp, n, p)``, with the
    grid's row and positive totals ``n``/``p`` on every row."""
    g = _cents_grid(df, score_col, label_col)
    tot = g.agg(F.sum("c").alias("n"), F.sum("pos").alias("p"))
    # suffix sums via whole-partition-minus-exclusive-prefix: Spark
    # evaluates an unboundedFollowing frame by re-aggregating the
    # suffix for EVERY row (O(grid^2) — ~6 s on the 17.8k-cent sf0.1
    # grid); the whole-partition frame is computed once and the
    # prefix frame is incremental, so this is O(grid) — and exact,
    # because the summands are integer counts in doubles.
    wall = Window.orderBy("v").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    wpre = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    _neg = F.col("c") - F.col("pos")
    return g.select(
        "v",
        (F.sum("pos").over(wall)
         - F.coalesce(F.sum("pos").over(wpre), F.lit(0.0))).alias("tp"),
        (F.sum(_neg).over(wall)
         - F.coalesce(F.sum(_neg).over(wpre), F.lit(0.0))).alias("fp"),
    ).crossJoin(tot)


def funnel_stages(
    df: DataFrame,
    steps: list[str],
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """Ordered-funnel analysis: for each user, the earliest time each
    funnel step completed STRICTLY AFTER the previous step (first-
    touch semantics), and the deepest stage reached.

    One keyed aggregate per step + one keyed join per step — the
    standard iterative funnel plan.  Each round's aggregate is
    map-side partial and the join key is the user id, so no step is
    ever a cross product; rounds = len(steps), a config constant.
    Returns ``(user, t1..tk as second-truncated strings, stage)`` for
    every user who completed step 1.
    """
    if not steps:
        raise ValueError("funnel_stages requires at least one step")
    fmt = "yyyy-MM-dd HH:mm:ss"
    cur = (
        df.filter(F.col(type_col) == steps[0])
        .groupBy(user_col)
        .agg(F.min(ts_col).alias("_t1"))
    )
    for i, step in enumerate(steps[1:], start=2):
        nxt = (
            df.filter(F.col(type_col) == step)
            .select(user_col, F.col(ts_col).alias("_ts"))
            .join(cur.select(user_col, f"_t{i-1}"), user_col)
            .filter(F.col("_ts") > F.col(f"_t{i-1}"))
            .groupBy(user_col)
            .agg(F.min("_ts").alias(f"_t{i}"))
        )
        cur = cur.join(nxt, user_col, "left")
    stage = F.lit(1)
    for i in range(2, len(steps) + 1):
        stage = stage + F.col(f"_t{i}").isNotNull().cast("int")
    out_cols = [F.col(user_col)] + [
        F.date_format(f"_t{i}", fmt).alias(f"t{i}")
        for i in range(1, len(steps) + 1)
    ]
    return cur.select(*out_cols, stage.alias("stage"))


def retention_cohorts(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Weekly cohort retention: users grouped by first-seen week;
    for each (cohort_week, week_offset) the count of cohort users
    active that week — the retention-curve table.

    Three keyed aggregates (per-user first week, distinct
    user-week activity, the cohort roll-up) and one user-keyed join;
    activity is deduplicated BEFORE the join so a power user
    contributes one row per week, never per event.
    """
    week = F.date_trunc("week", F.col(ts_col))
    first = df.groupBy(user_col).agg(F.min(week).alias("_cohort"))
    active = df.select(user_col, week.alias("_week")).distinct()
    return (
        active.join(first, user_col)
        .select(
            F.date_format("_cohort", "yyyy-MM-dd").alias("cohort_week"),
            (F.datediff("_week", "_cohort") / 7).cast("int").alias("week_offset"),
            F.col(user_col),
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.countDistinct(user_col).alias("n_users"))
    )


def event_transition_matrix(
    df: DataFrame,
    user_col: str = "user_id",
    type_col: str = "event_type",
    order_col: str = "event_id",
    round_digits: int = 6,
) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences: for each (from_type, to_type) adjacent pair, the count
    and the conditional probability P(to | from) — the
    session-behavior model behind next-event prediction and
    funnel-drop diagnosis.

    One user-keyed window (lead) + one (from, to) aggregate + a
    from-keyed total join — every stage partial-aggregated; the matrix
    is |types|^2 rows regardless of corpus size.
    """
    from pyspark.sql.window import Window

    w = Window.partitionBy(user_col).orderBy(order_col)
    pairs = (
        df.select(
            F.col(type_col).alias("from_type"),
            F.lead(type_col).over(w).alias("to_type"),
        )
        .filter(F.col("to_type").isNotNull())
    )
    counts = pairs.groupBy("from_type", "to_type").agg(
        F.count("*").alias("n")
    )
    totals = counts.groupBy("from_type").agg(F.sum("n").alias("_tot"))
    return counts.join(totals, "from_type").select(
        "from_type",
        "to_type",
        "n",
        F.round(F.col("n") / F.col("_tot"), round_digits).alias("p"),
    )


def ewma_smooth(
    df: DataFrame,
    key_col: str,
    order_col: str,
    value_col: str,
    alpha: float = 0.3,
) -> DataFrame:
    """EWMA smoothing (the SignalFlow ``ewma(alpha)`` analytics block a
    signalfx detector runs before thresholding): per key, over the
    ``order_col``-sorted series, ``s_1 = x_1`` and
    ``s_i = alpha*x_i + (1-alpha)*s_{i-1}``; returns the final
    smoothed level per key plus the series length and last raw value
    — the (level, raw) pair a deviation detector compares.

    The recurrence is sequential per key, so it runs as an in-row
    left fold over the per-key sorted value array: one grouped pass,
    state O(points-per-key) — bounded when the input is already
    bucketed (a count-connector minute series), which is the intended
    feed.  Closed form ``s_n = (1-a)^(n-1) x_1 + a * sum (1-a)^(n-i)
    x_i`` is what an oracle replays; fold-vs-closed-form float drift
    is ~1e-14 relative, far under the compare's rounding.
    """
    per_key, xs = _ordered_series(df, key_col, order_col, value_col)
    ewma = F.aggregate(
        F.slice(xs, 2, F.greatest(F.size(xs) - 1, F.lit(0))),
        F.element_at(xs, 1),
        lambda acc, x: F.lit(alpha) * x + F.lit(1.0 - alpha) * acc,
    )
    return per_key.select(
        "key",
        F.size("_pts").cast("long").alias("n_points"),
        F.element_at(xs, -1).alias("last_raw"),
        ewma.alias("ewma"),
    )


def alert_hysteresis(
    df: DataFrame,
    key_cols: list[str],
    order_col: str,
    value_col: str,
    fire: float,
    clear: float,
) -> DataFrame:
    """Fire/clear threshold detector with hysteresis (the signalfx
    detector shape: an alert FIRES above ``fire`` and only CLEARS
    below ``clear`` — points between the two hold the previous state,
    preventing threshold chatter).

    The sequential state machine has a closed form: a point's state
    equals the side of the most recent DECISIVE point (one outside
    the [clear, fire] band), so it is one ``last_value(ignorenulls)``
    window — fully parallel per key, no array fold, no Python.
    Output is per-point: ``state`` (1=alert), ``fire_edge`` /
    ``clear_edge`` transition flags.
    """
    from pyspark.sql.window import Window

    v = F.col(value_col).cast("double")
    decide = F.when(v > fire, F.lit(1)).when(v < clear, F.lit(0))
    w = (
        Window.partitionBy(*key_cols)
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    state = F.coalesce(
        F.last(decide, ignorenulls=True).over(w), F.lit(0)
    )
    out = df.withColumn("state", state)
    wl = Window.partitionBy(*key_cols).orderBy(order_col)
    prev = F.coalesce(F.lag("state").over(wl), F.lit(0))
    return out.select(
        "*",
        ((F.col("state") == 1) & (prev == 0)).alias("fire_edge"),
        ((F.col("state") == 0) & (prev == 1)).alias("clear_edge"),
    )


def flap_detect(
    df: DataFrame,
    key_cols: list[str],
    order_col: str,
    state_col: str,
    window_col: str,
    min_transitions: int = 3,
) -> DataFrame:
    """Flap detection (the anti-chatter guard a notification layer
    runs on detector output): per key and coarse window, count state
    TRANSITIONS (state != previous state, ordered within the key);
    windows with ``>= min_transitions`` flag as flapping and would be
    muted.

    The lag runs per key across the full series (so a transition on
    a window boundary still counts, attributed to the later point's
    window), then one grouped count — the lag window and the
    aggregate share the key-hash exchange.
    """
    from pyspark.sql.window import Window

    wl = Window.partitionBy(*key_cols).orderBy(order_col)
    prev = F.lag(F.col(state_col)).over(wl)
    trans = (
        prev.isNotNull() & (F.col(state_col) != prev)
    ).cast("long")
    return (
        df.withColumn("_t", trans)
        .groupBy(*key_cols, window_col)
        .agg(
            F.sum("_t").alias("n_transitions"),
            F.count("*").alias("n_points"),
        )
        .withColumn(
            "flapping", F.col("n_transitions") >= min_transitions
        )
    )


def top_movers(
    df: DataFrame,
    key_col: str,
    bucket_col: str,
    k: int = 3,
) -> DataFrame:
    """Top-movers ranking (the dashboard "biggest changes" panel):
    per time bucket, the k keys whose count changed most vs their own
    previous bucket, ranked by |delta| (ties to the smaller key).

    Counts aggregate first (map-side partials collapse the fact
    table), so both windows — the per-key lag and the per-bucket rank
    — run over (keys x buckets) rows, never raw events.  First bucket
    per key compares against 0 (a new key IS a mover).
    """
    from pyspark.sql.window import Window

    counts = df.groupBy(key_col, bucket_col).agg(
        F.count("*").alias("n")
    )
    wl = Window.partitionBy(key_col).orderBy(bucket_col)
    prev = F.coalesce(F.lag("n").over(wl), F.lit(0))
    delta = (F.col("n") - prev).alias("delta")
    scored = counts.select(
        key_col, bucket_col, "n", prev.alias("prev_n"), delta
    )
    wr = Window.partitionBy(bucket_col).orderBy(
        F.abs(F.col("delta")).desc(), F.col(key_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(wr))
        .filter(F.col("rank") <= k)
    )


def trend_slope(
    df: DataFrame,
    key_col: str,
    bucket_col: str,
) -> DataFrame:
    """Least-squares trend slope per series (the detector primitive
    behind "metric is trending up": fit count ~ a + b*t over the
    bucketed series, report b in counts-per-bucket).

    Exact integer sums feed the one closed-form division —
    slope = (n*Sty - St*Sy) / (n*Stt - St*St) — so the result is
    engine-reproducible; t is the bucket index relative to the
    series' own first bucket.  Counts aggregate first; the min-bucket
    window and the sum aggregate share the series-key exchange.
    """
    from pyspark.sql.window import Window

    counts = df.groupBy(key_col, bucket_col).agg(
        F.count("*").alias("y")
    )
    wk = Window.partitionBy(key_col)
    t = (F.col(bucket_col) - F.min(bucket_col).over(wk)).alias("t")
    pts = counts.select(key_col, t, "y")
    g = pts.groupBy(key_col).agg(
        F.count("*").alias("n"),
        F.sum("t").alias("st"),
        F.sum("y").alias("sy"),
        F.sum(F.col("t") * F.col("y")).alias("sty"),
        F.sum(F.col("t") * F.col("t")).alias("stt"),
    )
    num = (F.col("n") * F.col("sty") - F.col("st") * F.col("sy")).cast(
        "double"
    )
    den = (F.col("n") * F.col("stt") - F.col("st") * F.col("st")).cast(
        "double"
    )
    return g.select(
        key_col,
        "n",
        F.round(
            F.when(den != 0, num / den), 9
        ).alias("slope_per_bucket"),
    )


def holt_smooth(
    df: DataFrame,
    key_col: str,
    order_col: str,
    value_col: str,
    alpha: float = 0.5,
    beta: float = 0.3,
) -> DataFrame:
    """Holt double-exponential smoothing (level + linear trend — the
    signalfx "double EWMA" detector block; plain EWMA lags trending
    series, Holt tracks them): per key over the ordered series,

      l_i = alpha*x_i + (1-alpha)*(l_{i-1} + t_{i-1})
      t_i = beta*(l_i - l_{i-1}) + (1-beta)*t_{i-1}

    seeded l_1 = x_1, t_1 = 0; the one-step forecast is l + t.
    Sequential per key, so it runs as an in-row struct fold over the
    per-key sorted array (same policy as ``ewma_smooth``); intended
    feed is a bucketed series, state O(points-per-key).
    """
    a, b = float(alpha), float(beta)
    per_key, xs = _ordered_series(df, key_col, order_col, value_col)
    seed = F.struct(
        F.element_at(xs, 1).alias("l"), F.lit(0.0).alias("t")
    )

    def step(acc, x):
        lv = F.lit(a) * x + F.lit(1.0 - a) * (acc["l"] + acc["t"])
        tr = (
            F.lit(b)
            * ((F.lit(a) * x + F.lit(1.0 - a) * (acc["l"] + acc["t"])) - acc["l"])
            + F.lit(1.0 - b) * acc["t"]
        )
        return F.struct(lv.alias("l"), tr.alias("t"))

    folded = F.aggregate(
        F.slice(xs, 2, F.greatest(F.size(xs) - 1, F.lit(0))),
        seed,
        step,
    )
    return per_key.select(
        "key",
        F.size("_pts").cast("long").alias("n_points"),
        F.round(folded["l"], 6).alias("level"),
        # + 0.0: trend is a signed near-zero quantity; DuckDB's round()
        # preserves IEEE -0.0 while Spark's never emits it, so both
        # sides normalize the sign of zero before hashing.
        (F.round(folded["t"], 6) + 0.0).alias("trend"),
        F.round(folded["l"] + folded["t"], 6).alias("forecast"),
    )


def cusum_changepoint(
    df: DataFrame,
    key_col: str,
    bucket_col: str,
    h: float = 3.0,
) -> DataFrame:
    """CUSUM changepoint detection over a bucketed count series (the
    level-shift detector: a sustained mean change makes the running
    sum of deviations drift, and its |max| marks WHERE the level
    shifted): per key, cusum_i = sum_{j<=i}(x_j - mean); report the
    max |cusum|, the bucket where it peaks (ties to the earliest),
    and a flag against ``h * std * sqrt(n)`` (the random-walk null
    scales with sqrt(n)).

    Counts aggregate first; mean/std come from exact integer sums;
    the ordered cumsum is sequential per key so it replays
    identically on any engine.  Two passes over the bucket table
    sharing the key exchange.
    """
    from pyspark.sql.window import Window

    counts = df.groupBy(key_col, bucket_col).agg(
        F.count("*").cast("double").alias("x")
    )
    wk = Window.partitionBy(key_col)
    mean = F.sum("x").over(wk) / F.count("*").over(wk)
    wo = (
        Window.partitionBy(key_col)
        .orderBy(bucket_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = F.sum(F.col("x") - mean).over(wo)
    pts = counts.select(
        key_col,
        bucket_col,
        "x",
        mean.alias("_mean"),
        F.abs(cum).alias("_ac"),
    )
    wmax = Window.partitionBy(key_col)
    peaked = pts.withColumn("_maxac", F.max("_ac").over(wmax))
    g = (
        peaked.filter(F.col("_ac") == F.col("_maxac"))
        .groupBy(key_col)
        .agg(
            F.min(bucket_col).alias("changepoint_bucket"),
            F.max("_maxac").alias("_m"),
        )
    )
    stats = counts.groupBy(key_col).agg(
        F.count("*").alias("n"),
        F.sum("x").alias("_sx"),
        F.sum(F.col("x") * F.col("x")).alias("_sxx"),
    )
    joined = g.join(stats, key_col)
    var = F.col("_sxx") / F.col("n") - (
        F.col("_sx") / F.col("n")
    ) * (F.col("_sx") / F.col("n"))
    thresh = F.lit(h) * F.sqrt(var) * F.sqrt(F.col("n").cast("double"))
    return joined.select(
        key_col,
        "n",
        "changepoint_bucket",
        F.round(F.col("_m"), 6).alias("max_abs_cusum"),
        (F.col("_m") > thresh).alias("shifted"),
    )


def weighted_quantiles(
    df: DataFrame,
    value_col: str,
    weight_col: str,
    group_cols: list[str],
    qs: tuple[float, ...] = (0.5, 0.9),
) -> DataFrame:
    """Weighted quantiles (duration-weighted latency, size-weighted
    doc length): quantile q = smallest value whose cumulative weight
    reaches ``q * total`` — the lower weighted-quantile convention,
    exact and engine-reproducible with integer weights.

    Same scale shape as ``range_partition_bounds``: ONE shuffle
    builds the per-value weight histogram (map-side combine collapses
    the fact table to distinct values); the cumulative window then
    runs over that bounded table.
    """
    from pyspark.sql.window import Window

    hist = df.groupBy(*group_cols, value_col).agg(
        F.sum(weight_col).alias("_w")
    )
    w = (
        Window.partitionBy(*group_cols)
        .orderBy(value_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wt = Window.partitionBy(*group_cols)
    cum = hist.select(
        *group_cols,
        F.col(value_col),
        "_w",
        F.sum("_w").over(w).alias("_cum"),
        F.sum("_w").over(wt).alias("_total"),
    )
    qarr = F.explode(F.array(*[F.lit(q) for q in qs])).alias("q")
    thresh = F.col("q") * F.col("_total")
    return (
        cum.select(*group_cols, value_col, "_w", "_cum", "_total", qarr)
        .filter(
            (F.col("_cum") >= thresh)
            & (F.col("_cum") - F.col("_w") < thresh)
        )
        .select(
            *group_cols, "q", F.col(value_col).alias("quantile_value")
        )
    )


def cooccurrence_lift(
    df: DataFrame,
    group_col: str,
    item_col: str,
    min_pair_count: int = 1,
) -> DataFrame:
    """Item co-occurrence with lift (market-basket association over
    conversations: which tools appear together more often than
    chance): for unordered item pairs sharing a group,
    ``lift = P(a,b) / (P(a) P(b))`` over group-presence
    probabilities.

    The pair join is DISTINCT item-per-group first (a group
    contributes each pair once, however many repeats), and the
    self-join is keyed on the group with ``a < b`` — pair volume per
    group is C(distinct items, 2), bounded by the item vocabulary,
    never by event count.  Probabilities are single divisions of
    exact counts.
    """
    present = df.select(group_col, item_col).distinct()
    totals = present.select(group_col).distinct().agg(
        F.count("*").alias("_ng")
    )
    item_counts = present.groupBy(item_col).agg(
        F.count("*").alias("_na")
    )
    a = present.select(
        F.col(group_col).alias("_g"), F.col(item_col).alias("item_a")
    )
    b = present.select(
        F.col(group_col).alias("_g"), F.col(item_col).alias("item_b")
    )
    pairs = (
        a.join(b, "_g")
        .filter(F.col("item_a") < F.col("item_b"))
        .groupBy("item_a", "item_b")
        .agg(F.count("*").alias("n_both"))
        .filter(F.col("n_both") >= min_pair_count)
    )
    ca = item_counts.select(
        F.col(item_col).alias("item_a"), F.col("_na").alias("n_a")
    )
    cb = item_counts.select(
        F.col(item_col).alias("item_b"), F.col("_na").alias("n_b")
    )
    joined = (
        pairs.join(F.broadcast(ca), "item_a")
        .join(F.broadcast(cb), "item_b")
        .crossJoin(F.broadcast(totals))
    )
    n = F.col("_ng").cast("double")
    lift = (F.col("n_both").cast("double") / n) / (
        (F.col("n_a").cast("double") / n)
        * (F.col("n_b").cast("double") / n)
    )
    return joined.select(
        "item_a", "item_b", "n_both", "n_a", "n_b",
        F.round(lift, 6).alias("lift"),
    )


def user_churn_weekly(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    week_sec: int = 604800,
) -> DataFrame:
    """Weekly new/retained/churned accounting (the growth-accounting
    companion of the retention curve): per week — active users, new
    (first week ever), retained (also active the previous week), and
    churned (active last week, gone this week = prev active −
    retained).

    Presence deduplicates to (user, week) FIRST; one user-keyed lag
    window classifies new/retained; the churn subtraction runs on the
    tiny per-week table.  Weeks are epoch buckets (TZ-free).
    """
    from pyspark.sql.window import Window

    epoch = F.col(ts_col).cast("timestamp_ltz").cast("long")
    week = F.floor(epoch / week_sec).cast("long")
    presence = df.select(
        F.col(user_col).alias("_u"), week.alias("week")
    ).distinct()
    w = Window.partitionBy("_u").orderBy("week")
    prev = F.lag("week").over(w)
    marked = presence.select(
        "week",
        prev.isNull().cast("long").alias("_new"),
        (prev == F.col("week") - 1).cast("long").alias("_ret"),
    )
    byweek = marked.groupBy("week").agg(
        F.count("*").alias("n_active"),
        F.sum("_new").alias("n_new"),
        F.sum(F.coalesce(F.col("_ret"), F.lit(0))).alias("n_retained"),
    )
    ww = Window.orderBy("week")
    prev_active = F.lag("n_active").over(ww)
    return byweek.select(
        "week",
        "n_active",
        "n_new",
        "n_retained",
        F.coalesce(
            prev_active - F.col("n_retained"), F.lit(0)
        ).cast("long").alias("n_churned"),
    )


def pareto_concentration(
    df: DataFrame,
    key_col: str,
    qs: tuple[float, ...] = (0.01, 0.1, 0.5),
) -> DataFrame:
    """Heavy-user concentration (the Pareto / Lorenz question: what
    share of events do the top q of keys generate?): for each q,
    the event share of the most-active ``ceil(q * n_keys)`` keys.

    Scale-honest global ranking: per-key counts collapse to an
    ACTIVITY HISTOGRAM (how many keys have exactly c events — at most
    |distinct counts| rows), and the descending cumulative walk runs
    over that bounded table; no window ever ranks the key universe.
    Thresholds are exact integer math (ceil of q * total keys).
    """
    from pyspark.sql.window import Window

    per_key = df.groupBy(key_col).agg(F.count("*").alias("_c"))
    hist = per_key.groupBy("_c").agg(F.count("*").alias("_k"))
    w = (
        Window.orderBy(F.col("_c").desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    tot = hist.agg(
        F.sum("_k").alias("_tk"),
        F.sum(F.col("_c") * F.col("_k")).alias("_te"),
    )
    cum = hist.select(
        "_c",
        "_k",
        F.sum("_k").over(w).alias("_ck"),
        F.sum(F.col("_c") * F.col("_k")).over(w).alias("_ce"),
    ).crossJoin(F.broadcast(tot))
    q = F.explode(F.array(*[F.lit(x) for x in qs])).alias("q")
    thresh = F.ceil(F.col("q") * F.col("_tk"))
    # the bucket where the top-q key count lands; keys inside one
    # bucket are interchangeable (same activity), so the share
    # interpolates within the bucket exactly
    hit = cum.select("*", q).filter(
        (F.col("_ck") >= thresh) & (F.col("_ck") - F.col("_k") < thresh)
    )
    inside = thresh - (F.col("_ck") - F.col("_k"))
    events_top = (
        F.col("_ce") - F.col("_c") * F.col("_k") + F.col("_c") * inside
    )
    return hit.select(
        "q",
        thresh.cast("long").alias("n_top_keys"),
        F.round(
            events_top.cast("double") / F.col("_te"), 6
        ).alias("event_share"),
    )


def psi_drift(
    df: DataFrame,
    value_col: str,
    period_col: str,
    bounds: tuple[float, ...],
    smooth: float = 1.0,
) -> DataFrame:
    """Population Stability Index between two periods (the ML-ops
    drift metric: PSI < 0.1 stable, > 0.25 action) over FIXED
    explicit bounds (quantile-derived bins would make the metric
    depend on the drift it measures): per bin,
    ``term = (pa - pb) * ln(pa / pb)`` with Laplace-smoothed shares
    so empty bins stay finite; the PSI is the sum of terms.

    One conditional-aggregate pass for bin counts; shares and terms
    are single double operations, rounded against libm ln ulp
    differences.
    """
    idx = F.lit(len(bounds))
    for i in reversed(range(len(bounds))):
        idx = F.when(F.col(value_col) <= bounds[i], F.lit(i)).otherwise(idx)
    p = F.col(period_col)
    per = df.select(idx.alias("bin"), p.alias("_p"))
    counts = per.groupBy("bin").agg(
        F.sum((F.col("_p") == "a").cast("long")).alias("n_a"),
        F.sum((F.col("_p") == "b").cast("long")).alias("n_b"),
    )
    totals = per.agg(
        F.sum((F.col("_p") == "a").cast("long")).alias("_ta"),
        F.sum((F.col("_p") == "b").cast("long")).alias("_tb"),
    )
    n_bins = float(len(bounds) + 1)
    j = counts.crossJoin(F.broadcast(totals))
    pa = (F.col("n_a") + F.lit(smooth)) / (
        F.col("_ta") + F.lit(smooth * n_bins)
    )
    pb = (F.col("n_b") + F.lit(smooth)) / (
        F.col("_tb") + F.lit(smooth * n_bins)
    )
    term = (pa - pb) * F.log(pa / pb)
    return j.select(
        "bin",
        "n_a",
        "n_b",
        F.round(pa, 6).alias("share_a"),
        F.round(pb, 6).alias("share_b"),
        F.round(term, 6).alias("psi_term"),
    )


def ab_conversion_z(
    df: DataFrame,
    variant_col: str,
    convert_col: str,
    variant_a: str = "a",
    variant_b: str = "b",
) -> DataFrame:
    """Two-proportion z-test over per-user conversion flags (the A/B
    readout: is variant b's conversion rate a real uplift?):
    ``z = (pb - pa) / sqrt(p(1-p)(1/na + 1/nb))`` with the pooled
    rate p; |z| > 1.96 marks 95% significance.

    Input is one row per experimental unit (deduplicate upstream —
    double-counting users invalidates the test); ONE conditional-
    aggregate pass, all arithmetic single double operations.
    """
    isa = F.col(variant_col) == variant_a
    isb = F.col(variant_col) == variant_b
    conv = F.col(convert_col).cast("long")
    g = df.agg(
        F.sum(isa.cast("long")).alias("n_a"),
        F.sum(F.when(isa, conv).otherwise(0)).alias("conv_a"),
        F.sum(isb.cast("long")).alias("n_b"),
        F.sum(F.when(isb, conv).otherwise(0)).alias("conv_b"),
    )
    na = F.col("n_a").cast("double")
    nb = F.col("n_b").cast("double")
    pa = F.col("conv_a").cast("double") / na
    pb = F.col("conv_b").cast("double") / nb
    pool = (F.col("conv_a") + F.col("conv_b")).cast("double") / (na + nb)
    se = F.sqrt(pool * (1 - pool) * (1 / na + 1 / nb))
    # degenerate experiments (0% or 100% pooled conversion) have
    # se = 0: no information, z undefined -> NULL, not significant
    z = F.when(se > 0, (pb - pa) / se)
    return g.select(
        "n_a",
        "conv_a",
        "n_b",
        "conv_b",
        F.round(pa, 6).alias("rate_a"),
        F.round(pb, 6).alias("rate_b"),
        F.round(z, 6).alias("z"),
        F.coalesce(F.abs(z) > 1.96, F.lit(False)).alias(
            "significant_95"
        ),
    )


def funnel_latency(
    df: DataFrame,
    first_type: str,
    second_type: str,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """Time-to-convert percentiles (how long from signup to first
    purchase, for users who converted): per user, the earliest
    ``second_type`` STRICTLY AFTER the earliest ``first_type``;
    exact interpolated p50/p90 + max over converting users.

    Two keyed aggregates + one user-keyed join + one global
    percentile pass — the same iterative-funnel plan as
    ``funnel_stages``, ending in a 1-row summary.
    """
    epoch = F.col(ts_col).cast("timestamp_ltz").cast("double")
    first = (
        df.filter(F.col(type_col) == first_type)
        .groupBy(user_col)
        .agg(F.min(epoch).alias("_t1"))
    )
    second = df.filter(F.col(type_col) == second_type).select(
        user_col, epoch.alias("_t2")
    )
    lat = (
        second.join(first, user_col)
        .filter(F.col("_t2") > F.col("_t1"))
        .groupBy(user_col)
        .agg((F.min("_t2") - F.max("_t1")).alias("_lat"))
    )
    pcts = F.percentile(
        F.col("_lat"), F.array(F.lit(0.5), F.lit(0.9))
    )
    return lat.agg(
        F.count("*").alias("n_converted"),
        pcts.alias("_q"),
        F.max("_lat").alias("_mx"),
    ).select(
        "n_converted",
        F.round(F.element_at("_q", 1), 3).alias("p50_s"),
        F.round(F.element_at("_q", 2), 3).alias("p90_s"),
        F.round(F.col("_mx"), 3).alias("max_s"),
    )


def dow_hour_heatmap(
    df: DataFrame,
    ts_col: str = "ts",
) -> DataFrame:
    """Day-of-week x hour activity heatmap (the capacity-planning /
    anomaly-baseline grid): counts per (dow, hour) cell plus each
    cell's share of the total.

    Day-of-week from pure epoch arithmetic — ``(days + 4) % 7`` with
    0=Sunday (1970-01-01 was a Thursday) — because engine dayofweek()
    conventions disagree (Spark 1=Sunday, DuckDB 0=Sunday) and epoch
    math is TZ-free.  Output is at most 168 rows at any scale.
    """
    epoch = F.col(ts_col).cast("timestamp_ltz").cast("long")
    dow = ((F.floor(epoch / 86400) + 4) % 7).cast("int")
    hour = F.floor((epoch % 86400) / 3600).cast("int")
    cells = df.groupBy(dow.alias("dow"), hour.alias("hour")).agg(
        F.count("*").alias("n")
    )
    total = cells.agg(F.sum("n").alias("_t"))
    return cells.crossJoin(F.broadcast(total)).select(
        "dow",
        "hour",
        "n",
        F.round(F.col("n").cast("double") / F.col("_t"), 6).alias(
            "share"
        ),
    )


def gini_activity(
    df: DataFrame,
    key_col: str,
) -> DataFrame:
    """Gini coefficient of per-key activity (the single-number
    inequality companion of ``pareto_concentration``): 0 = everyone
    equally active, 1 = one key does everything.

    Computed EXACTLY from the activity histogram with integer rank
    sums — for a run of ``k`` keys each with count ``c`` after ``a``
    lower-ranked keys, ``sum(i * x_i) = c * (k*a + k*(k+1)/2)`` — so
    the only float is the final division.  The cumulative walk runs
    over distinct activity values (bounded), never the key universe.
    """
    from pyspark.sql.window import Window

    per_key = df.groupBy(key_col).agg(F.count("*").alias("_c"))
    hist = per_key.groupBy("_c").agg(F.count("*").alias("_k"))
    w = (
        Window.orderBy("_c")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow - 1)
    )
    a = F.coalesce(F.sum("_k").over(w), F.lit(0))
    ranked = hist.select(
        "_c",
        "_k",
        (
            F.col("_c")
            * (F.col("_k") * a + F.col("_k") * (F.col("_k") + 1) / 2)
        ).cast("long").alias("_ris"),
    )
    g = ranked.agg(
        F.sum("_ris").alias("_s"),
        F.sum(F.col("_c") * F.col("_k")).alias("_tot"),
        F.sum("_k").alias("_n"),
    )
    n = F.col("_n").cast("double")
    gini = (
        F.lit(2.0) * F.col("_s").cast("double")
        / (n * F.col("_tot").cast("double"))
        - (n + 1) / n
    )
    return g.select(
        F.col("_n").alias("n_keys"),
        F.col("_tot").alias("n_events"),
        F.round(gini, 6).alias("gini"),
    )


def user_type_entropy(
    df: DataFrame,
    key_col: str,
    type_col: str,
) -> DataFrame:
    """Per-key behavioral entropy (Shannon entropy of the event-type
    mix — the diversity score separating single-purpose bots from
    organic users): ``-sum p ln p`` in nats.

    The per-type terms fold IN SORTED TYPE ORDER inside a row
    (sorted collect of the tiny per-key type histogram), so the
    float sum is order-deterministic on any engine — a grouped SUM
    of ln terms would be fold-order lottery.
    """
    counts = df.groupBy(key_col, type_col).agg(
        F.count("*").alias("_n")
    )
    per_key = counts.groupBy(key_col).agg(
        F.sort_array(
            F.collect_list(
                F.struct(F.col(type_col).alias("t"), F.col("_n").alias("n"))
            )
        ).alias("_ts"),
        F.sum("_n").alias("n_events"),
    )
    tot = F.col("n_events").cast("double")
    ent = -F.aggregate(
        "_ts",
        F.lit(0.0),
        lambda acc, s: acc
        + (s["n"].cast("double") / tot)
        * F.log(s["n"].cast("double") / tot),
    )
    return per_key.select(
        key_col,
        "n_events",
        F.size("_ts").alias("n_types"),
        F.round(ent, 6).alias("entropy_nats"),
    )


def ks_statistic(
    df: DataFrame,
    value_col: str,
    period_col: str,
) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov statistic between periods (PSI's
    nonparametric sibling: max |CDF_a - CDF_b|, no binning choice to
    defend): computed EXACTLY over the per-value histogram — the
    cumulative walk runs on distinct values (bounded), and every CDF
    point is one integer division.

    Output is the D statistic plus the value where the gap peaks
    (ties to the smallest value) — the "where did the distribution
    shift" answer reviewers ask next.
    """
    from pyspark.sql.window import Window

    p = F.col(period_col)
    hist = df.groupBy(value_col).agg(
        F.sum((p == "a").cast("long")).alias("_ca"),
        F.sum((p == "b").cast("long")).alias("_cb"),
    )
    w = (
        Window.orderBy(value_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    tot = hist.agg(
        F.sum("_ca").alias("_ta"), F.sum("_cb").alias("_tb")
    )
    cum = hist.select(
        F.col(value_col),
        F.sum("_ca").over(w).alias("_cuma"),
        F.sum("_cb").over(w).alias("_cumb"),
    ).crossJoin(F.broadcast(tot))
    gap = F.abs(
        F.col("_cuma").cast("double") / F.col("_ta")
        - F.col("_cumb").cast("double") / F.col("_tb")
    )
    scored = cum.select(F.col(value_col), gap.alias("_gap"))
    wmax = Window.orderBy(F.lit(1)).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    peaked = scored.withColumn("_mx", F.max("_gap").over(wmax))
    return (
        peaked.filter(F.col("_gap") == F.col("_mx"))
        .agg(
            F.min(value_col).alias("at_value"),
            F.round(F.max("_mx"), 6).alias("ks_d"),
        )
    )


def state_intervals(
    df: DataFrame,
    key_cols: list[str],
    order_col: str,
    state_col: str,
    ts_col: str = "ts",
) -> DataFrame:
    """Run-length state timeline (the interval table a detector
    stores instead of per-point states: "alert from 12:03 to 12:41"):
    consecutive equal states collapse to one row with first/last
    time, point count and duration.

    Gaps-and-islands: run id = running count of state CHANGES (one
    keyed lag + cumsum window), then one (key, run) aggregate — all
    sharing the key exchange.
    """
    from pyspark.sql.window import Window

    epoch = F.col(ts_col).cast("timestamp_ltz").cast("double")
    w = Window.partitionBy(*key_cols).orderBy(order_col)
    prev = F.lag(F.col(state_col)).over(w)
    changed = (prev.isNull() | (prev != F.col(state_col))).cast("long")
    wc = (
        Window.partitionBy(*key_cols)
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    runs = df.select(
        *key_cols,
        F.col(state_col).alias("state"),
        epoch.alias("_e"),
        F.sum(changed).over(wc).alias("run_id"),
    )
    return runs.groupBy(*key_cols, "run_id", "state").agg(
        F.count("*").alias("n_points"),
        F.round(F.min("_e"), 3).alias("start_s"),
        F.round(F.max("_e"), 3).alias("end_s"),
        F.round(F.max("_e") - F.min("_e"), 3).alias("duration_s"),
    )


def last_touch_attribution(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    kind_col: str,
    channel_col: str,
    order_col: str,
) -> DataFrame:
    """Last-touch conversion attribution (which channel gets credit
    for each conversion: the most recent touch strictly before it;
    none -> organic): the as-of carry-forward pattern — one union is
    already the input (rows flagged touch/conversion via
    ``kind_col`` in {'touch','conversion'}), one
    ``last_value(ignorenulls)`` window per user, one grouped rollup.

    At equal timestamps a touch sorts BEFORE the conversion it
    should credit (kind rank breaks the tie), conversions never
    credit each other, and the output is per-channel conversion
    counts with shares.
    """
    from pyspark.sql.window import Window

    epoch = F.col(ts_col).cast("timestamp_ltz").cast("double")
    kind_rank = F.when(F.col(kind_col) == "touch", 0).otherwise(1)
    w = (
        Window.partitionBy(user_col)
        .orderBy(epoch, kind_rank, F.col(order_col))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    carried = F.last(
        F.when(F.col(kind_col) == "touch", F.col(channel_col)),
        ignorenulls=True,
    ).over(w)
    conv = df.withColumn("_ch", carried).filter(
        F.col(kind_col) == "conversion"
    )
    counts = conv.groupBy(
        F.coalesce(F.col("_ch"), F.lit("organic")).alias("channel")
    ).agg(F.count("*").alias("n_conversions"))
    total = counts.agg(F.sum("n_conversions").alias("_t"))
    return counts.crossJoin(F.broadcast(total)).select(
        "channel",
        "n_conversions",
        F.round(
            F.col("n_conversions").cast("double") / F.col("_t"), 6
        ).alias("share"),
    )


def backoff_detect(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str = "ts",
    order_cols: list[str] | None = None,
    ratio_lo: float = 1.5,
    ratio_hi: float = 2.5,
    min_run: int = 2,
) -> DataFrame:
    """Exponential-backoff detection (a client in a retry loop leaves
    a fingerprint: consecutive inter-arrival gaps that roughly DOUBLE
    — catching it separates 'service is down and clients are backing
    off' from organic traffic): per key, the longest run of
    consecutive gap ratios inside [ratio_lo, ratio_hi] and a flag at
    ``min_run`` (a run of r ratios spans r+2 events).

    Three chained keyed windows (gap, previous gap, run islands) +
    one grouped max — all on the same key exchange; ratios are
    single divisions of epoch doubles.
    """
    from pyspark.sql.window import Window

    epoch = F.col(ts_col).cast("timestamp_ltz").cast("double")
    order = [F.col(c) for c in (order_cols or [ts_col])]
    w = Window.partitionBy(*key_cols).orderBy(*order)
    gap = epoch - F.lag(epoch).over(w)
    pts = df.select(*key_cols, *order, gap.alias("_g"))
    prev_g = F.lag("_g").over(w)
    ratio = F.col("_g") / prev_g
    doubling = (
        prev_g.isNotNull()
        & (prev_g > 0)
        & (ratio >= ratio_lo)
        & (ratio <= ratio_hi)
    )
    marked = pts.select(
        *key_cols, *order, doubling.cast("long").alias("_d")
    )
    wc = (
        Window.partitionBy(*key_cols)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    rid = F.sum(1 - F.col("_d")).over(wc)
    runs = (
        marked.withColumn("_rid", rid)
        .filter(F.col("_d") == 1)
        .groupBy(*key_cols, "_rid")
        .agg(F.count("*").alias("_len"))
    )
    agg = runs.groupBy(*key_cols).agg(F.max("_len").alias("max_run"))
    base = df.select(*key_cols).distinct()
    return base.join(agg, key_cols, "left").select(
        *key_cols,
        F.coalesce("max_run", F.lit(0)).alias("max_run"),
        (F.coalesce("max_run", F.lit(0)) >= min_run).alias(
            "backoff_detected"
        ),
    )


def behavior_trigrams(
    df: DataFrame,
    user_col: str,
    type_col: str,
    order_col: str,
    k: int = 10,
) -> DataFrame:
    """Top-k behavioral trigrams (the motif-mining extension of the
    transition matrix: which three-step paths dominate?): per user
    sequence, every consecutive (t1, t2, t3) window counts once;
    output the k most frequent with shares, ties to the
    lexicographically-first motif.

    One user-keyed window producing both leads, one trigram
    aggregate, one TakeOrdered — never a global sort.
    """
    from pyspark.sql.window import Window

    w = Window.partitionBy(user_col).orderBy(order_col)
    tri = df.select(
        F.col(type_col).alias("t1"),
        F.lead(type_col, 1).over(w).alias("t2"),
        F.lead(type_col, 2).over(w).alias("t3"),
    ).filter(F.col("t3").isNotNull())
    counts = tri.groupBy("t1", "t2", "t3").agg(
        F.count("*").alias("n")
    )
    total = counts.agg(F.sum("n").alias("_t"))
    return (
        counts.crossJoin(F.broadcast(total))
        .select(
            "t1", "t2", "t3", "n",
            F.round(F.col("n").cast("double") / F.col("_t"), 6).alias(
                "share"
            ),
        )
        .orderBy(F.desc("n"), "t1", "t2", "t3")
        .limit(k)
    )


def lifetime_survival(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    day_thresholds: tuple[int, ...] = (1, 7, 14, 28),
) -> DataFrame:
    """Lifetime survival curve (what fraction of users stay active at
    least d days? — the retention summary a growth report leads
    with): lifetime = last activity - first activity in days;
    S(d) = share of users with lifetime >= d.

    No censoring correction (users near the corpus horizon are
    undercounted — documented, the Kaplan-Meier tier is the upgrade);
    per-user lifetimes from one keyed aggregate, every threshold a
    conditional sum in ONE pass over the user table.
    """
    epoch = F.col(ts_col).cast("timestamp_ltz").cast("double")
    lifetimes = df.groupBy(user_col).agg(
        ((F.max(epoch) - F.min(epoch)) / 86400.0).alias("_days")
    )
    aggs = [F.count("*").alias("n_users")]
    for d in day_thresholds:
        aggs.append(
            F.sum((F.col("_days") >= d).cast("long")).alias(f"ge_{d}")
        )
    g = lifetimes.agg(*aggs)
    stacked = []
    for d in day_thresholds:
        stacked += [F.lit(d), F.col(f"ge_{d}")]
    return g.select(
        "n_users",
        F.stack(F.lit(len(day_thresholds)), *stacked).alias(
            "day", "n_surviving"
        ),
    ).select(
        "day",
        "n_surviving",
        "n_users",
        F.round(
            F.col("n_surviving").cast("double") / F.col("n_users"), 6
        ).alias("survival"),
    )


def rfm_features(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    value_col: str,
    recent_days: int = 7,
) -> DataFrame:
    """RFM feature table (recency / frequency / monetary — the
    classic churn-and-value features, computed at the corpus
    horizon): per user — days since last activity, total events,
    events in the trailing window, and decimal-summed value.

    The horizon is the corpus max timestamp (one 1-row aggregate,
    broadcast); everything else is a single grouped pass with
    conditional sums — no window, no join on the fact table.
    """
    epoch = F.col(ts_col).cast("timestamp_ltz").cast("double")
    horizon = df.agg(F.max(epoch).alias("_h"))
    j = df.select(
        F.col(user_col),
        epoch.alias("_e"),
        F.col(value_col).cast("decimal(19,6)").alias("_v"),
    ).crossJoin(F.broadcast(horizon))
    recent = F.col("_e") >= F.col("_h") - recent_days * 86400
    g = j.groupBy(user_col).agg(
        F.max("_h").alias("_hh"),
        F.max("_e").alias("_last"),
        F.count("*").alias("frequency"),
        F.sum(recent.cast("long")).alias(f"freq_{recent_days}d"),
        F.sum("_v").alias("_m"),
    )
    return g.select(
        user_col,
        F.round(
            (F.col("_hh") - F.col("_last")) / 86400.0, 6
        ).alias("recency_days"),
        "frequency",
        f"freq_{recent_days}d",
        F.round(F.col("_m").cast("double"), 4).alias("monetary"),
    )


def cohort_ltv(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    value_col: str,
    week_sec: int = 604800,
) -> DataFrame:
    """Cohort LTV curve (cumulative value per signup cohort by week
    offset — the revenue companion of the retention curve): users
    cohort by first-seen week; each (cohort, offset) cell sums its
    decimal value and accumulates along the offset axis.

    Per-user first-week aggregate + one user-keyed join + one
    (cohort, offset) aggregate; the cumulative window runs over the
    tiny cohort x offset grid.  Weeks are epoch buckets (TZ-free).
    """
    from pyspark.sql.window import Window

    epoch = F.col(ts_col).cast("timestamp_ltz").cast("long")
    week = F.floor(epoch / week_sec).cast("long")
    first = df.groupBy(user_col).agg(F.min(week).alias("_cohort"))
    j = df.select(
        F.col(user_col),
        week.alias("_w"),
        F.col(value_col).cast("decimal(19,6)").alias("_v"),
    ).join(first, user_col)
    cells = j.groupBy(
        F.col("_cohort").alias("cohort_week"),
        (F.col("_w") - F.col("_cohort")).alias("week_offset"),
    ).agg(F.sum("_v").alias("_wk"))
    wcum = (
        Window.partitionBy("cohort_week")
        .orderBy("week_offset")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return cells.select(
        "cohort_week",
        "week_offset",
        F.round(F.col("_wk").cast("double"), 4).alias("week_value"),
        F.round(F.sum("_wk").over(wcum).cast("double"), 4).alias(
            "cumulative_value"
        ),
    )


def error_propagation(
    df: DataFrame,
    group_col: str = "user_id",
    order_col: str = "event_id",
    flag_col: str = "is_error",
) -> DataFrame:
    """Error-propagation rate over the heap forest (does a failing
    child take its parent down? — the blast-radius number an incident
    review wants): among parent-child edges, the share of
    error-children whose parent also errors, vs the parent base rate
    (lift > 1 = errors propagate).

    Same seq//2 parent rule as the other tree operators; one keyed
    window + one self-join on (group, parent seq) + a 1-row
    conditional aggregate.
    """
    from pyspark.sql.window import Window

    w = Window.partitionBy(group_col).orderBy(order_col)
    seq = df.select(
        F.col(group_col).alias("_g"),
        F.row_number().over(w).alias("_seq"),
        F.col(flag_col).cast("int").alias("_e"),
    )
    child = seq.filter(F.col("_seq") > 1).select(
        "_g",
        F.floor(F.col("_seq") / 2).cast("long").alias("_pseq"),
        F.col("_e").alias("_ce"),
    )
    parent = seq.select(
        F.col("_g").alias("_pg"),
        F.col("_seq").alias("_ps"),
        F.col("_e").alias("_pe"),
    )
    edges = child.join(
        parent,
        (child["_g"] == parent["_pg"]) & (child["_pseq"] == parent["_ps"]),
    )
    g = edges.agg(
        F.count("*").alias("n_edges"),
        F.sum("_ce").alias("_nce"),
        F.sum("_pe").alias("_npe"),
        F.sum(F.col("_ce") * F.col("_pe")).alias("_both"),
    )
    p_parent = F.col("_npe").cast("double") / F.col("n_edges")
    p_parent_given_child = F.col("_both").cast("double") / F.col("_nce")
    return g.select(
        "n_edges",
        F.col("_nce").alias("n_error_children"),
        F.round(p_parent, 6).alias("parent_error_rate"),
        F.round(
            F.when(F.col("_nce") > 0, p_parent_given_child), 6
        ).alias("parent_error_given_child_error"),
        F.round(
            F.when(
                (F.col("_nce") > 0) & (F.col("_npe") > 0),
                p_parent_given_child / p_parent,
            ),
            6,
        ).alias("propagation_lift"),
    )


def churn_paths(
    df: DataFrame,
    user_col: str,
    type_col: str,
    order_col: str,
    k: int = 10,
) -> DataFrame:
    """Terminal paths (the last three events before a user goes
    quiet — where do journeys END?): each user's final trigram,
    counted and ranked.

    One user-keyed window ranks from the END (row_number over
    descending order), the trigram assembles from ranks 1..3 via
    conditional max in ONE grouped pass, then a TakeOrdered top-k.
    Users with fewer than 3 events are excluded (no full trigram).
    """
    from pyspark.sql.window import Window

    w = Window.partitionBy(user_col).orderBy(F.col(order_col).desc())
    ranked = df.select(
        F.col(user_col),
        F.col(type_col).alias("_t"),
        F.row_number().over(w).alias("_r"),
    ).filter(F.col("_r") <= 3)
    tri = ranked.groupBy(user_col).agg(
        F.max(F.when(F.col("_r") == 3, F.col("_t"))).alias("t1"),
        F.max(F.when(F.col("_r") == 2, F.col("_t"))).alias("t2"),
        F.max(F.when(F.col("_r") == 1, F.col("_t"))).alias("t3"),
        F.count("*").alias("_n"),
    ).filter(F.col("_n") == 3)
    counts = tri.groupBy("t1", "t2", "t3").agg(
        F.count("*").alias("n_users")
    )
    return counts.orderBy(
        F.desc("n_users"), "t1", "t2", "t3"
    ).limit(k)


def capacity_forecast(
    df: DataFrame,
    key_col: str,
    bucket_col: str,
    threshold: float,
) -> DataFrame:
    """Capacity-headroom forecast (when does the trend cross the
    ceiling? — the planning question a trend slope exists to answer):
    per series, the last bucket's count, the least-squares slope, and
    the buckets-to-threshold extrapolation (NULL when flat or
    declining — no crossing to forecast).

    Composes the exact-integer trend fit with a deterministic
    last-bucket argmax; pure arithmetic after two keyed aggregates.
    """
    from pyspark.sql.window import Window

    counts = df.groupBy(key_col, bucket_col).agg(
        F.count("*").alias("y")
    )
    wk = Window.partitionBy(key_col)
    t = (F.col(bucket_col) - F.min(bucket_col).over(wk)).alias("t")
    pts = counts.select(key_col, t, "y")
    g = pts.groupBy(key_col).agg(
        F.count("*").alias("n"),
        F.sum("t").alias("st"),
        F.sum("y").alias("sy"),
        F.sum(F.col("t") * F.col("y")).alias("sty"),
        F.sum(F.col("t") * F.col("t")).alias("stt"),
        F.max(F.struct(F.col("t"), F.col("y")))["y"].alias("last_y"),
    )
    num = (F.col("n") * F.col("sty") - F.col("st") * F.col("sy")).cast(
        "double"
    )
    den = (F.col("n") * F.col("stt") - F.col("st") * F.col("st")).cast(
        "double"
    )
    slope = F.when(den != 0, num / den)
    headroom = F.lit(threshold) - F.col("last_y").cast("double")
    return g.select(
        key_col,
        F.col("last_y").alias("current"),
        F.round(slope, 9).alias("slope_per_bucket"),
        F.round(
            F.when(
                slope > 0,
                F.when(headroom > 0, headroom / slope).otherwise(
                    F.lit(0.0)
                ),
            ),
            3,
        ).alias("buckets_to_threshold"),
    )


def conversion_propensity(
    df: DataFrame,
    user_col: str,
    type_col: str,
    order_col: str,
    target: str,
    lookahead: int = 3,
) -> DataFrame:
    """Short-horizon conversion propensity (given the user just did
    X, how often does ``target`` follow within the next k events? —
    the next-action model a recommender baselines against): per event
    type, the share of occurrences followed by the target within
    ``lookahead`` steps of the same user's sequence.

    ``lookahead`` lead columns from ONE keyed window (k is a config
    constant), an any-match OR, one grouped pass.  Target events
    themselves are scored too (a purchase followed by another
    purchase counts — repeat behavior is signal).
    """
    from pyspark.sql.window import Window

    w = Window.partitionBy(user_col).orderBy(order_col)
    hits = None
    for i in range(1, lookahead + 1):
        h = F.lead(F.col(type_col), i).over(w) == target
        hits = h if hits is None else (hits | h)
    scored = df.select(
        F.col(type_col).alias("from_type"),
        F.coalesce(hits, F.lit(False)).alias("_hit"),
    )
    return scored.groupBy("from_type").agg(
        F.count("*").alias("n"),
        F.sum(F.col("_hit").cast("long")).alias("n_converted"),
        F.round(
            F.sum(F.col("_hit").cast("long")).cast("double")
            / F.count("*"),
            6,
        ).alias("propensity"),
    )


def escalation_chains(
    df: DataFrame,
    key_cols: list[str],
    order_col: str,
    sev_col: str,
    lookback: int = 3,
) -> DataFrame:
    """Severity escalation chains (did the ERROR announce itself? —
    errors preceded by a WARN within the last k events are
    escalations a pre-warning detector could have caught; cold errors
    are not): per key — error count, escalated count, and the
    escalation share.

    ``lookback`` lag columns from one keyed window (3VL-safe
    any-match), one grouped pass.
    """
    from pyspark.sql.window import Window

    w = Window.partitionBy(*key_cols).orderBy(order_col)
    warned = None
    for i in range(1, lookback + 1):
        h = F.lag(F.col(sev_col), i).over(w) == "WARN"
        warned = h if warned is None else (warned | h)
    is_err = F.col(sev_col) == "ERROR"
    scored = df.select(
        *key_cols,
        is_err.alias("_e"),
        (is_err & F.coalesce(warned, F.lit(False))).alias("_esc"),
    )
    return scored.groupBy(*key_cols).agg(
        F.sum(F.col("_e").cast("long")).alias("n_errors"),
        F.sum(F.col("_esc").cast("long")).alias("n_escalated"),
        F.round(
            F.when(
                F.sum(F.col("_e").cast("long")) > 0,
                F.sum(F.col("_esc").cast("long")).cast("double")
                / F.sum(F.col("_e").cast("long")),
            ),
            6,
        ).alias("escalation_share"),
    )


def engagement_conversion(
    df: DataFrame,
    user_col: str,
    type_col: str,
    target: str = "purchase",
) -> DataFrame:
    """Conversion rate by engagement band (does more activity convert
    better? — the product question behind every activation metric):
    users band by total event count (power-of-two bands, integer bit
    length), each band reports users, converters and the rate.

    One per-user aggregate (count + converted flag in the same pass),
    then a band rollup over the tiny user table.
    """
    per_user = df.groupBy(user_col).agg(
        F.count("*").alias("_n"),
        F.max((F.col(type_col) == target).cast("long")).alias("_c"),
    )
    band = F.when(F.col("_n") <= 1, F.lit(1)).otherwise(
        F.expr("shiftleft(1, length(bin(_n - 1)))")
    ).cast("long")
    banded = per_user.withColumn("band", band)
    return banded.groupBy("band").agg(
        F.count("*").alias("n_users"),
        F.sum("_c").alias("n_converted"),
        F.round(
            F.sum("_c").cast("double") / F.count("*"), 6
        ).alias("conversion_rate"),
    )


def mase_baseline(
    df: DataFrame,
    key_col: str,
    bucket_col: str,
    season: int = 24,
) -> DataFrame:
    """Seasonal-naive forecast error (MASE denominator discipline:
    before shipping any forecaster, beat the "same hour yesterday"
    baseline): per series, the MAE of the seasonal-naive forecast
    (lag ``season``) and of the one-step naive (lag 1), and their
    ratio — seasonal/naive < 1 means the seasonality is real signal.

    Counts bucket first; both lags come from ONE keyed window pass;
    absolute errors accumulate in decimal.

    ``bucket_col`` must be an integer bucket index with step 1 (e.g.
    ``floor(epoch/3600)``).  The per-key grid is gap-filled with
    ``y = 0`` before the window pass — a missing bucket in a *count*
    series means zero events, and without the fill a row-based
    ``lag(season)`` would silently compare against the wrong hour
    whenever any bucket is absent.  Grid size is |keys| x bucket span
    (bounded by the time range, not the row count), so the fill is
    cheap at any scale.
    """
    from pyspark.sql.window import Window

    raw = df.groupBy(key_col, bucket_col).agg(
        F.count("*").cast("double").alias("y")
    )
    span = raw.groupBy(key_col).agg(
        F.min(bucket_col).alias("_mn"), F.max(bucket_col).alias("_mx")
    )
    grid = span.select(
        key_col,
        F.explode(F.sequence(F.col("_mn"), F.col("_mx"))).alias(bucket_col),
    )
    counts = grid.join(raw, [key_col, bucket_col], "left").select(
        key_col, bucket_col, F.coalesce("y", F.lit(0.0)).alias("y")
    )
    w = Window.partitionBy(key_col).orderBy(bucket_col)
    e_seasonal = F.abs(
        F.col("y") - F.lag("y", season).over(w)
    ).cast("decimal(18,6)")
    e_naive = F.abs(F.col("y") - F.lag("y", 1).over(w)).cast(
        "decimal(18,6)"
    )
    errs = counts.select(
        key_col, e_seasonal.alias("_es"), e_naive.alias("_en")
    )
    g = errs.groupBy(key_col).agg(
        F.count(F.col("_es")).alias("n_seasonal"),
        F.sum("_es").alias("_ses"),
        F.count(F.col("_en")).alias("n_naive"),
        F.sum("_en").alias("_sen"),
    )
    mae_s = F.col("_ses").cast("double") / F.col("n_seasonal")
    mae_n = F.col("_sen").cast("double") / F.col("n_naive")
    return g.select(
        key_col,
        F.round(mae_s, 6).alias("mae_seasonal"),
        F.round(mae_n, 6).alias("mae_naive"),
        F.round(
            F.when(mae_n > 0, mae_s / mae_n), 6
        ).alias("mase_ratio"),
    )


def mutual_information(
    df: DataFrame,
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Mutual information between two categoricals (are event type
    and time-of-day band independent? — the dependence screen run
    before trusting either as a feature): per contingency cell,
    ``p_xy * ln(p_xy / (p_x * p_y))`` in nats; the MI is the sum of
    terms (zero cells contribute nothing, correctly).

    One contingency aggregate (bounded |X| x |Y|), marginals via two
    more tiny rollups joined back broadcast; single divisions and one
    ln per cell.
    """
    cells = df.groupBy(x_col, y_col).agg(F.count("*").alias("_nxy"))
    mx = cells.groupBy(x_col).agg(F.sum("_nxy").alias("_nx"))
    my = cells.groupBy(y_col).agg(F.sum("_nxy").alias("_ny"))
    tot = cells.agg(F.sum("_nxy").alias("_t"))
    j = (
        cells.join(F.broadcast(mx), x_col)
        .join(F.broadcast(my), y_col)
        .crossJoin(F.broadcast(tot))
    )
    t = F.col("_t").cast("double")
    pxy = F.col("_nxy").cast("double") / t
    px = F.col("_nx").cast("double") / t
    py = F.col("_ny").cast("double") / t
    term = pxy * F.log(pxy / (px * py))
    return j.select(
        x_col,
        y_col,
        F.col("_nxy").alias("n"),
        F.round(pxy, 6).alias("p_xy"),
        F.round(term, 6).alias("mi_term"),
    )


def activation_velocity(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    order_col: str,
    nth: int = 5,
) -> DataFrame:
    """Activation velocity (how fast do users reach their Nth event?
    — the PLG metric behind "time-to-aha"): per-user time from the
    first to the Nth event, summarized as exact p25/p50/p75 over
    users who got there, plus the share who never did.

    One keyed rank window (rows <= nth survive the filter), one
    per-user conditional aggregate, one global percentile pass.
    """
    from pyspark.sql.window import Window

    epoch = F.col(ts_col).cast("timestamp_ltz").cast("double")
    w = Window.partitionBy(user_col).orderBy(
        F.col(order_col)
    )
    ranked = df.select(
        F.col(user_col),
        epoch.alias("_e"),
        F.row_number().over(w).alias("_r"),
    ).filter(F.col("_r") <= nth)
    per = ranked.groupBy(user_col).agg(
        F.min("_e").alias("_t1"),
        F.max(F.when(F.col("_r") == nth, F.col("_e"))).alias("_tn"),
    )
    reached = per.filter(F.col("_tn").isNotNull()).select(
        (F.col("_tn") - F.col("_t1")).alias("_d")
    )
    pcts = F.percentile(
        F.col("_d"), F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75))
    )
    stats = reached.agg(
        F.count("*").alias("n_reached"), pcts.alias("_q")
    )
    totals = per.agg(F.count("*").alias("n_users"))
    return stats.crossJoin(F.broadcast(totals)).select(
        "n_users",
        "n_reached",
        F.round(
            F.lit(1.0)
            - F.col("n_reached").cast("double") / F.col("n_users"),
            6,
        ).alias("never_share"),
        F.round(F.element_at("_q", 1), 3).alias("p25_s"),
        F.round(F.element_at("_q", 2), 3).alias("p50_s"),
        F.round(F.element_at("_q", 3), 3).alias("p75_s"),
    )


def weekend_shift(
    df: DataFrame,
    type_col: str,
    ts_col: str,
) -> DataFrame:
    """Weekend/weekday mix shift (does the traffic change character
    on weekends, or just shrink?): per type — weekday and weekend
    counts, each period's mix share, and the share delta (the
    per-type L1 terms).  Day-of-week from epoch arithmetic
    (0=Sunday; engine dayofweek() conventions disagree).
    """
    epoch = F.col(ts_col).cast("timestamp_ltz").cast("long")
    dow = (F.floor(epoch / 86400) + 4) % 7
    is_we = (dow == 0) | (dow == 6)
    cells = df.groupBy(type_col).agg(
        F.sum((~is_we).cast("long")).alias("n_weekday"),
        F.sum(is_we.cast("long")).alias("n_weekend"),
    )
    tot = cells.agg(
        F.sum("n_weekday").alias("_tw"),
        F.sum("n_weekend").alias("_te"),
    )
    j = cells.crossJoin(F.broadcast(tot))
    sw = F.col("n_weekday").cast("double") / F.col("_tw")
    se = F.col("n_weekend").cast("double") / F.col("_te")
    return j.select(
        type_col,
        "n_weekday",
        "n_weekend",
        F.round(sw, 6).alias("weekday_share"),
        F.round(se, 6).alias("weekend_share"),
        F.round(F.abs(sw - se), 6).alias("share_delta"),
    )


def journey_paths(
    df: DataFrame,
    user_col: str,
    type_col: str,
    order_col: str,
    k: int = 10,
    max_len: int = 8,
) -> DataFrame:
    """Top full journeys (the distinct event-type paths users
    actually walk, rendered as 'a>b>c'): per user, the ordered type
    sequence truncated to ``max_len`` steps (long journeys keep
    their head — the decision-shaping part), then the k most common
    paths with user counts.

    In-row ordered assembly (sorted collect of (order, type) structs,
    bounded by max_len after slice), one path aggregate, TakeOrdered.
    """
    per_user = df.groupBy(user_col).agg(
        F.sort_array(
            F.collect_list(
                F.struct(
                    F.col(order_col).alias("o"),
                    F.col(type_col).alias("t"),
                )
            )
        ).alias("_seq")
    )
    path = F.array_join(
        F.transform(
            F.slice("_seq", 1, max_len), lambda s: s["t"]
        ),
        ">",
    )
    paths = per_user.select(
        path.alias("journey"),
        (F.size("_seq") > max_len).alias("_truncated"),
    )
    counts = paths.groupBy("journey").agg(
        F.count("*").alias("n_users"),
        F.sum(F.col("_truncated").cast("long")).alias("n_truncated"),
    )
    return counts.orderBy(F.desc("n_users"), "journey").limit(k)


def benford_audit(
    df: DataFrame,
    value_col: str,
    group_col: str | None = None,
) -> DataFrame:
    """Benford first-digit audit (fabricated-data / instrumentation-bug
    screen: organically-sized quantities follow ``P(d) = log10(1+1/d)``;
    a synthetic or truncated feed does not): observed share per leading
    digit vs the Benford expectation, with the absolute deviation.

    Reference analog: the anomaly screens signalfx detectors run over
    datapoint streams (signalfx-agent observer/metric sanity checks).

    One filter + one 9-row groupBy (optionally per group) — no shuffle
    wider than |groups| x 9 rows at any input scale.  The leading digit
    is the first nonzero digit of the value's decimal rendering — NOT
    ``floor(v / 10^floor(log10(v)))``, which flips at exact powers of
    ten when an engine's log10 is 1 ulp off; the leading significant
    digit is invariant across rendering styles (scientific or plain),
    so both engines agree by construction.  Zero, negative, and NaN
    values are excluded (Benford is defined on positives).  Shares come
    from exact BIGINT counts; the only floating math is one log10 for
    the expectation and one division, rounded to 6.
    """
    keys = [group_col] if group_col else []
    v = F.col(value_col).cast("double")
    pos = df.filter((v > 0) & ~F.isnan(v))
    digit = F.regexp_extract(v.cast("string"), "[1-9]", 0).cast("int")
    cells = pos.select(*keys, digit.alias("digit")).groupBy(
        *keys, "digit"
    ).agg(F.count("*").alias("n"))
    tot = (
        cells.groupBy(*keys).agg(F.sum("n").alias("_t"))
        if keys
        else cells.agg(F.sum("n").alias("_t"))
    )
    j = (
        cells.join(F.broadcast(tot), keys)
        if keys
        else cells.crossJoin(F.broadcast(tot))
    )
    share = F.col("n").cast("double") / F.col("_t").cast("double")
    expected = F.log10(F.lit(1.0) + F.lit(1.0) / F.col("digit"))
    return j.select(
        *keys,
        "digit",
        F.col("n").cast("long").alias("n"),
        F.round(share, 6).alias("share"),
        F.round(expected, 6).alias("benford_share"),
        F.round(F.abs(share - expected), 6).alias("abs_dev"),
    )


def burstiness_fano(
    df: DataFrame,
    key_col: str,
    bucket_col: str,
) -> DataFrame:
    """Burstiness per series (is traffic Poisson-ish or bursty? — the
    statistic behind rate-limit and capacity decisions): Fano factor
    ``var/mean`` of per-bucket counts over the series' GAP-FILLED
    bucket grid (a missing bucket is a zero-count observation; skipping
    zeros biases the variance down exactly when traffic is burstiest),
    plus the bounded burstiness index ``(sigma - mu) / (sigma + mu)``
    (-1 regular, 0 Poisson, ->1 bursty).

    ``bucket_col`` must be an integer bucket index with step 1.  Grid
    size is bounded by the time span, not the row count (same argument
    as ``mase_baseline``).  Variance comes from exact BIGINT moment
    sums (``S1 = sum x``, ``S2 = sum x^2`` — counts are integers), so
    the double arithmetic is three operations and hash-stable.
    """
    raw = df.groupBy(key_col, bucket_col).agg(
        F.count("*").alias("y")
    )
    g = raw.groupBy(key_col).agg(
        F.min(bucket_col).alias("_mn"),
        F.max(bucket_col).alias("_mx"),
        F.sum("y").alias("_s1"),
        F.sum(F.col("y") * F.col("y")).alias("_s2"),
    )
    # zero-count buckets add nothing to S1/S2 — only n needs the grid.
    n = (F.col("_mx") - F.col("_mn") + F.lit(1)).cast("double")
    s1 = F.col("_s1").cast("double")
    s2 = F.col("_s2").cast("double")
    mu = s1 / n
    var = (s2 - s1 * s1 / n) / n
    sigma = F.sqrt(var)
    return g.select(
        key_col,
        (F.col("_mx") - F.col("_mn") + F.lit(1)).cast("long").alias(
            "n_buckets"
        ),
        F.round(mu, 6).alias("mean_per_bucket"),
        F.round(var / mu, 6).alias("fano"),
        F.round((sigma - mu) / (sigma + mu), 6).alias("burstiness"),
    )


def acf_lags(
    df: DataFrame,
    key_col: str,
    bucket_col: str,
    lags: tuple[int, ...] = (1, 2, 3, 24),
) -> DataFrame:
    """Sample autocorrelation of per-bucket counts at chosen lags (the
    seasonality detector: hourly series with r_24 >> r_1 has a real
    daily cycle — run this before trusting ``mase_baseline``'s season
    choice): ``r_k = sum((x_t - mu)(x_{t+k} - mu)) / sum((x_t - mu)^2)``
    over each series' gap-filled grid.

    Expanded to exact integer sums so the two engines agree bit-for-bit
    after rounding: numerator ``= Sxy_k - mu*(Sh_k + St_k) + (n-k)*mu^2``
    where ``Sxy_k = sum x_t*x_{t+k}`` and ``Sh_k``/``St_k`` are the
    head/tail partial sums — all BIGINT; ``mu``, the denominator
    ``S2 - n*mu^2``, and the final division are the only double math.

    One keyed window pass produces every lag column (grid is dense
    after the fill, so row-lag == time-lag); per-key grid size is
    bounded by the bucket span.
    """
    from pyspark.sql.window import Window

    raw = df.groupBy(key_col, bucket_col).agg(
        F.count("*").alias("y")
    )
    span = raw.groupBy(key_col).agg(
        F.min(bucket_col).alias("_mn"), F.max(bucket_col).alias("_mx")
    )
    grid = span.select(
        key_col,
        F.explode(F.sequence(F.col("_mn"), F.col("_mx"))).alias(
            bucket_col
        ),
    )
    counts = grid.join(raw, [key_col, bucket_col], "left").select(
        key_col,
        bucket_col,
        F.coalesce("y", F.lit(0)).cast("long").alias("y"),
    )
    w = Window.partitionBy(key_col).orderBy(bucket_col)
    cols = [F.col(key_col), F.col("y")]
    for k in lags:
        cols.append(F.lag("y", k).over(w).alias(f"_l{k}"))
    lagged = counts.select(*cols)
    aggs = [
        F.count("*").alias("_n"),
        F.sum("y").alias("_s1"),
        F.sum(F.col("y") * F.col("y")).alias("_s2"),
    ]
    for k in lags:
        lk = F.col(f"_l{k}")
        aggs += [
            F.sum(F.col("y") * lk).alias(f"_sxy{k}"),
            F.sum(F.when(lk.isNotNull(), F.col("y"))).alias(f"_st{k}"),
            F.sum(lk).alias(f"_sh{k}"),
            F.count(lk).alias(f"_np{k}"),
        ]
    g = lagged.groupBy(key_col).agg(*aggs)
    n = F.col("_n").cast("double")
    mu = F.col("_s1").cast("double") / n
    denom = F.col("_s2").cast("double") - n * mu * mu
    out = [F.col(key_col), F.col("_n").cast("long").alias("n_buckets")]
    for k in lags:
        num = (
            F.col(f"_sxy{k}").cast("double")
            - mu
            * (F.col(f"_sh{k}") + F.col(f"_st{k}")).cast("double")
            + F.col(f"_np{k}").cast("double") * mu * mu
        )
        out.append(
            F.round(F.when(denom > 0, num / denom), 6).alias(f"acf_{k}")
        )
    return g.select(*out)


def tool_adoption_curve(
    df: DataFrame,
    tool_col: str = "tool",
    adopter_col: str = "conv_id",
    ts_col: str = "ts",
    exclude: str = "none",
) -> DataFrame:
    """Adoption curve per tool: for each day, how many adopters used
    the tool for the FIRST time, and the cumulative adopter count —
    the cold-start chart that separates a tool with momentum from one
    that spiked at launch.

    Two keyed aggregates (first-use per (tool, adopter), then per
    (tool, day)) and a per-tool cumulative window whose partition is
    bounded by the day count — the fact table never sorts globally.
    """
    first = (
        df.filter(F.col(tool_col) != exclude)
        .groupBy(
            F.col(tool_col).alias("tool"),
            F.col(adopter_col).alias("_a"),
        )
        .agg(F.min(ts_col).alias("_first_ts"))
    )
    daily = first.groupBy(
        "tool", F.to_date("_first_ts").alias("day")
    ).agg(F.count("*").cast("long").alias("new_adopters"))
    w = (
        Window.partitionBy("tool")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return daily.select(
        "tool",
        "day",
        "new_adopters",
        F.sum("new_adopters").over(w).cast("long").alias("cum_adopters"),
    )


def audience_overlap(
    df: DataFrame,
    user_col: str = "user_id",
    type_col: str = "event_type",
) -> DataFrame:
    """Pairwise audience overlap between event types: distinct users
    doing BOTH, each audience size, and the audience Jaccard — the
    segmentation screen for "is purchase audience a subset of click
    audience or a different population".

    The pair table assembles IN-ROW: one shuffle collects each user's
    deduped type set, sorted pairs generate via indexed array
    transforms (|types| is bounded, so the per-row pair list is
    bounded-square, never a row explosion), and the pair/type counts
    are bounded aggregates.  The classic formulation — a distinct
    self-join on user — is the plan this avoids: at 10^12 events the
    self-join shuffles the fact table twice and hot users quadrate.
    """
    sets = (
        df.select(
            F.col(user_col).alias("_u"), F.col(type_col).alias("_t")
        )
        .groupBy("_u")
        .agg(F.sort_array(F.collect_set("_t")).alias("_s"))
    )
    pairs = sets.select(
        "_u",
        F.explode(
            F.flatten(
                F.transform(
                    "_s",
                    lambda x, i: F.transform(
                        F.slice("_s", i + 2, F.size("_s")),
                        lambda y: F.struct(
                            x.alias("a"), y.alias("b")
                        ),
                    ),
                )
            )
        ).alias("p"),
    )
    both = pairs.groupBy(
        F.col("p.a").alias("type_a"), F.col("p.b").alias("type_b")
    ).agg(F.count("*").cast("long").alias("n_both"))
    aud = (
        sets.select(F.explode("_s").alias("t"))
        .groupBy("t")
        .agg(F.count("*").alias("n"))
    )
    j = (
        both.join(
            aud.select(
                F.col("t").alias("type_a"), F.col("n").alias("_na")
            ),
            "type_a",
        )
        .join(
            aud.select(
                F.col("t").alias("type_b"), F.col("n").alias("_nb")
            ),
            "type_b",
        )
    )
    return j.select(
        "type_a",
        "type_b",
        "n_both",
        F.col("_na").cast("long").alias("n_a"),
        F.col("_nb").cast("long").alias("n_b"),
        F.round(
            F.col("n_both").cast("double")
            / (F.col("_na") + F.col("_nb") - F.col("n_both")).cast(
                "double"
            ),
            6,
        ).alias("jaccard"),
    )


def json_key_drift(
    df: DataFrame,
    json_col: str = "props",
    ts_col: str = "ts",
) -> DataFrame:
    """Schema drift of a free-form JSON column by day: distinct keys
    active each day, keys seen for the first time, and the cumulative
    key vocabulary — the feed-health audit that catches a producer
    silently adding fields (``json_schema_infer`` tells you the
    schema NOW; this tells you when each piece arrived).

    Keys extract JVM-side (``json_object_keys``), dedupe to
    (day, key) in one shuffle; first-day per key is a second keyed
    aggregate, and the cumulative curve is a window over the bounded
    day axis.
    """
    dk = (
        df.select(
            F.to_date(ts_col).alias("day"),
            F.explode(
                F.expr(f"json_object_keys({json_col})")
            ).alias("key"),
        )
        .distinct()
    )
    firsts = dk.groupBy("key").agg(F.min("day").alias("_fd"))
    per_day = dk.groupBy("day").agg(
        F.count("*").cast("long").alias("n_active_keys")
    )
    new_per_day = firsts.groupBy(F.col("_fd").alias("day")).agg(
        F.count("*").cast("long").alias("n_new_keys")
    )
    j = per_day.join(new_per_day, "day", "left").select(
        "day",
        "n_active_keys",
        F.coalesce("n_new_keys", F.lit(0)).cast("long").alias(
            "n_new_keys"
        ),
    )
    w = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    # the day axis is bounded (one row per day), so the global-order
    # window runs over a tiny frame — never the fact table
    return j.select(
        "day",
        "n_active_keys",
        "n_new_keys",
        F.sum("n_new_keys").over(w).cast("long").alias("cum_keys"),
    )


# chi-square 95% critical values by degrees of freedom (public table);
# pinned so the SRM flag needs no CDF evaluation on either engine.
_CHI2_CRIT_95 = {
    1: 3.841459, 2: 5.991465, 3: 7.814728, 4: 9.487729, 5: 11.070498,
    6: 12.591587, 7: 14.067140, 8: 15.507313, 9: 16.918978,
    10: 18.307038,
}


def srm_check(
    df: DataFrame,
    unit_col: str = "user_id",
    variant_col: str = "variant",
    expected: dict[str, float] | None = None,
) -> DataFrame:
    """Sample-ratio-mismatch check for an A/B assignment: distinct
    units per variant vs the design split, per-variant chi-square
    contribution, the total statistic, and a 95% flag — the gate every
    experiment readout must pass BEFORE the effect z-test means
    anything (a biased assignment invalidates ``ab_conversion_z``).

    One distinct (unit, variant) shuffle, then bounded aggregates
    (|variants| rows); the chi-square total is a window over that
    bounded set.  Expected shares default to uniform over the observed
    variants.  The 95% critical value is a pinned public table
    (dof 1..10), not a CDF call.
    """
    from pyspark.sql.window import Window

    u = df.select(unit_col, variant_col).distinct()
    counts = u.groupBy(F.col(variant_col).alias("variant")).agg(
        F.count("*").cast("long").alias("n_units")
    )
    w = Window.partitionBy()
    k = F.count("*").over(w)
    total = F.sum("n_units").over(w)
    if expected is None:
        exp_share = F.lit(1.0) / k.cast("double")
    else:
        exp_share = F.coalesce(
            *[
                F.when(F.col("variant") == v, F.lit(float(s)))
                for v, s in expected.items()
            ]
        )
    exp_n = exp_share * total.cast("double")
    contrib = (F.col("n_units").cast("double") - exp_n) ** 2 / exp_n
    crit = F.coalesce(
        *[
            F.when(k == d + 1, F.lit(c))
            for d, c in _CHI2_CRIT_95.items()
        ]
    )
    out = counts.select(
        "variant",
        "n_units",
        F.round(exp_share, 6).alias("expected_share"),
        F.round(
            F.col("n_units").cast("double") / total.cast("double"), 6
        ).alias("observed_share"),
        F.round(contrib, 6).alias("chi2_contrib"),
        F.round(F.sum(contrib).over(w), 6).alias("chi2_total"),
        (F.sum(contrib).over(w) > crit).alias("srm_flag"),
    )
    # the empty-partition window input is the bounded variant table
    # (<= 10 rows), never the fact table — safe by construction
    return out


def cuped_adjustment(
    df: DataFrame,
    variant_col: str = "variant",
    metric_col: str = "metric",
    covariate_col: str = "covariate",
) -> DataFrame:
    """CUPED variance reduction for an A/B metric: theta fitted on the
    pooled data (cov(x,y)/var(x) over the pre-period covariate x),
    adjusted metric y' = y - theta*(x - mean(x)), reported per variant
    with the achieved variance-reduction share — the standard trick
    that shrinks experiment confidence intervals without more traffic
    (Deng et al., WSDM'13).

    One pass computes the pooled sums (n, Sx, Sy, Sxx, Sxy) as a 1-row
    aggregate that broadcasts back onto the bounded per-variant
    aggregate — theta and the adjusted means are CLOSED-FORM in those
    sums, so no second scan and no per-unit adjusted column ever
    materializes.  Per-variant adjusted mean:
    mean(y) - theta*(mean_v(x) - mean(x)).
    """
    x = F.col(covariate_col).cast("double")
    y = F.col(metric_col).cast("double")
    pooled = df.agg(
        F.count("*").cast("double").alias("_n"),
        F.sum(x).alias("_sx"),
        F.sum(y).alias("_sy"),
        F.sum(x * x).alias("_sxx"),
        F.sum(x * y).alias("_sxy"),
        F.var_pop(y).alias("_vy"),
        F.covar_pop(x, y).alias("_cxy"),
        F.var_pop(x).alias("_vx"),
    ).select(
        "*",
        (F.col("_cxy") / F.col("_vx")).alias("_theta"),
        (F.col("_sx") / F.col("_n")).alias("_mx"),
    )
    per_v = df.groupBy(F.col(variant_col).alias("variant")).agg(
        F.count("*").cast("long").alias("n_units"),
        F.avg(y).alias("_my_v"),
        F.avg(x).alias("_mx_v"),
    )
    j = per_v.join(F.broadcast(pooled))  # 1-row pooled stats
    var_red = F.lit(1.0) - (
        (F.col("_vy") - F.col("_theta") * F.col("_cxy")) / F.col("_vy")
    )
    return j.select(
        "variant",
        "n_units",
        F.round("_my_v", 6).alias("mean_metric"),
        F.round(
            F.col("_my_v")
            - F.col("_theta") * (F.col("_mx_v") - F.col("_mx")),
            6,
        ).alias("mean_adjusted"),
        F.round("_theta", 6).alias("theta"),
        F.round(var_red, 6).alias("var_reduction"),
    )


def spearman_corr(
    df: DataFrame,
    key_col: str,
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Spearman rank correlation between two columns, per key — the
    monotone-trend detector Pearson misses when the relationship is
    nonlinear or the values are heavy-tailed (latency, revenue).

    Average ranks handle ties exactly: avg_rank = rank() +
    (tie_count - 1)/2, from two per-key ordered windows; the
    correlation is then a single Pearson aggregate over the ranks.
    Both windows partition BY KEY, so at 10^12 rows this is keyed
    shuffles, never a global sort.
    """
    from pyspark.sql.window import Window

    def avg_rank(col: str, out: str):
        wr = Window.partitionBy(key_col).orderBy(F.col(col))
        wt = Window.partitionBy(key_col, col)
        return (
            F.rank().over(wr).cast("double")
            + (F.count("*").over(wt).cast("double") - 1.0) / 2.0
        ).alias(out)

    ranked = df.select(
        F.col(key_col).alias("key"),
        avg_rank(x_col, "_rx"),
        avg_rank(y_col, "_ry"),
    )
    return (
        ranked.groupBy("key")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.round(F.corr("_rx", "_ry"), 5).alias("spearman_rho"),
        )
    )


def js_divergence_drift(
    df: DataFrame,
    cat_col: str = "event_type",
    ts_col: str = "ts",
) -> DataFrame:
    """Day-over-day Jensen-Shannon divergence of a categorical mix —
    the bounded, symmetric drift score ([0,1] in bits) that PSI and KL
    both fail on when a category appears or disappears (their log
    terms blow up; JSD's mixture denominator never does).

    One keyed count shuffle on the fact table; the dense
    (day x category) grid, the consecutive-day join, and the JSD
    roll-up all run on the bounded post-aggregate table.
    """
    c = df.groupBy(
        F.to_date(ts_col).alias("day"), F.col(cat_col).alias("cat")
    ).agg(F.count("*").cast("double").alias("n"))
    days = c.select("day").distinct()
    cats = c.select("cat").distinct()
    # dense grid so absent categories contribute p=0 exactly (the
    # 0*log(0)=0 convention), identically on both engines
    grid = days.crossJoin(cats).join(c, ["day", "cat"], "left").select(
        "day", "cat", F.coalesce("n", F.lit(0.0)).alias("n")
    )
    tot = grid.groupBy("day").agg(F.sum("n").alias("tot"))
    p = grid.join(tot, "day").select(
        "day", "cat", (F.col("n") / F.col("tot")).alias("p")
    )
    q = p.select(
        F.date_add("day", 1).alias("day"),
        "cat",
        F.col("p").alias("q"),
    )
    ln2 = 0.6931471805599453
    both = p.join(q, ["day", "cat"])  # inner: only days with a prior day
    m = (F.col("p") + F.col("q")) / 2.0
    term = (
        F.when(F.col("p") > 0, F.col("p") * F.log(F.col("p") / m) / ln2)
        .otherwise(0.0)
        + F.when(F.col("q") > 0, F.col("q") * F.log(F.col("q") / m) / ln2)
        .otherwise(0.0)
    )
    return (
        both.groupBy("day")
        .agg(F.round(F.sum(term) / 2.0, 6).alias("jsd_vs_prev_day"))
    )


def conditional_entropy(
    df: DataFrame,
    user_col: str = "user_id",
    order_col: str = "event_id",
    type_col: str = "event_type",
) -> DataFrame:
    """Sequence predictability: H(next) and H(next | prev) in bits over
    per-user event transitions, plus the predictability gain
    1 - H(next|prev)/H(next) — how much knowing the previous event
    narrows the next one (0 = memoryless feed, 1 = deterministic
    flows).  The single-number screen behind the full
    ``event_transition_matrix``.

    One lead window keyed by user, one bigram count shuffle; the
    entropy sums run over the bounded |types|^2 table.
    """
    from pyspark.sql.window import Window

    w = Window.partitionBy(user_col).orderBy(order_col)
    pairs = df.select(
        F.col(type_col).alias("prev"),
        F.lead(type_col).over(w).alias("nxt"),
    ).filter(F.col("nxt").isNotNull())
    big = pairs.groupBy("prev", "nxt").agg(
        F.count("*").cast("double").alias("n")
    )
    ln2 = 0.6931471805599453
    agg = big.agg(
        F.sum("n").alias("_t"),
        (-F.sum(F.col("n") * F.log("n")) / ln2).alias("_sxy"),
    )
    # H(Y|X) = H(X,Y) - H(X); H from grouped sums, all over the
    # bounded bigram table
    hx = big.groupBy("prev").agg(F.sum("n").alias("nx")).agg(
        F.sum("nx").alias("_tx"),
        (-F.sum(F.col("nx") * F.log("nx")) / ln2).alias("_sx"),
    )
    hy = big.groupBy("nxt").agg(F.sum("n").alias("ny")).agg(
        (-F.sum(F.col("ny") * F.log("ny")) / ln2).alias("_sy"),
    )
    j = agg.join(F.broadcast(hx)).join(F.broadcast(hy))
    t = F.col("_t")
    lg_t = F.log(t) / ln2
    h_xy = F.col("_sxy") / t + lg_t
    h_x = F.col("_sx") / t + lg_t
    h_y = F.col("_sy") / t + lg_t
    return j.select(
        t.cast("long").alias("n_transitions"),
        F.round(h_y, 6).alias("h_next"),
        F.round(h_xy - h_x, 6).alias("h_next_given_prev"),
        F.round(
            F.lit(1.0) - (h_xy - h_x) / h_y, 6
        ).alias("predictability_gain"),
    )


def moments_profile(
    df: DataFrame,
    group_col: str,
    value_col: str = "value",
) -> DataFrame:
    """Distribution-shape profile per group: mean, stddev, skewness
    and excess kurtosis — the four-number screen that flags
    heavy-tailed or lopsided metrics before any threshold is set on
    them.

    Moments come from RAW POWER SUMS (S1..S4) in one keyed aggregate
    pass, not from the engine's skewness()/kurtosis() built-ins —
    Spark computes population moments while DuckDB's are
    bias-corrected sample moments, so the raw-sum route is the only
    rendering both engines agree on bit-for-bit at round(5).
    """
    x = F.col(value_col).cast("double")
    g = df.groupBy(F.col(group_col).alias("grp")).agg(
        F.count(x).cast("double").alias("_n"),
        F.sum(x).alias("_s1"),
        F.sum(x * x).alias("_s2"),
        F.sum(x * x * x).alias("_s3"),
        F.sum(x * x * x * x).alias("_s4"),
    )
    n = F.col("_n")
    mu = F.col("_s1") / n
    m2 = F.col("_s2") / n - mu**2
    m3 = F.col("_s3") / n - 3 * mu * F.col("_s2") / n + 2 * mu**3
    m4 = (
        F.col("_s4") / n
        - 4 * mu * F.col("_s3") / n
        + 6 * mu**2 * F.col("_s2") / n
        - 3 * mu**4
    )
    return g.select(
        "grp",
        n.cast("long").alias("n"),
        F.round(mu, 5).alias("mean"),
        F.round(F.sqrt(m2), 5).alias("stddev"),
        F.round(m3 / m2 ** 1.5, 5).alias("skewness"),
        F.round(m4 / m2**2 - 3.0, 5).alias("excess_kurtosis"),
    )


def runs_test(
    df: DataFrame,
    key_col: str,
    order_col: str,
    value_col: str = "value",
) -> DataFrame:
    """Wald-Wolfowitz runs test about the mean, per key: is the
    above/below-mean sign sequence random, trending (too few runs) or
    oscillating (too many)?  The order-sensitivity screen every
    i.i.d.-assuming monitor silently needs.

    Per-key mean joins back keyed (no broadcast of an unbounded group
    table); the sign-change count is one lag window partitioned by
    key.  z = (R - E[R]) / sd[R] with the classic closed form.
    """
    from pyspark.sql.window import Window

    x = F.col(value_col).cast("double")
    means = df.groupBy(F.col(key_col).alias("_k")).agg(
        (F.sum(x) / F.count(x)).alias("_mu")
    )
    signed = df.join(
        means, df[key_col] == means["_k"]
    ).select(
        F.col(key_col).alias("key"),
        F.col(order_col).alias("_o"),
        (x > F.col("_mu")).cast("int").alias("_s"),
    )
    w = Window.partitionBy("key").orderBy("_o")
    ch = signed.select(
        "key",
        "_s",
        F.when(
            F.lag("_s").over(w).isNotNull()
            & (F.lag("_s").over(w) != F.col("_s")),
            1,
        )
        .otherwise(0)
        .alias("_chg"),
    )
    g = ch.groupBy("key").agg(
        F.count("*").cast("double").alias("_n"),
        F.sum("_s").cast("double").alias("_n1"),
        (F.lit(1) + F.sum("_chg")).cast("double").alias("_r"),
    )
    n, n1, r = F.col("_n"), F.col("_n1"), F.col("_r")
    n2 = n - n1
    e_r = 1.0 + 2.0 * n1 * n2 / n
    var_r = (
        2.0 * n1 * n2 * (2.0 * n1 * n2 - n) / (n**2 * (n - 1.0))
    )
    return g.select(
        "key",
        n.cast("long").alias("n"),
        F.col("_n1").cast("long").alias("n_above"),
        r.cast("long").alias("n_runs"),
        F.round(e_r, 5).alias("expected_runs"),
        F.round(
            F.when(var_r > 0, (r - e_r) / F.sqrt(var_r)), 5
        ).alias("z"),
    )


def theil_sen_slope(
    df: DataFrame,
    key_col: str,
    bucket_col: str,
    value_col: str = "value",
) -> DataFrame:
    """Theil-Sen robust trend per key: the MEDIAN of all pairwise
    slopes over the per-bucket series — immune to the outlier buckets
    that wreck an OLS slope (deploy spikes, backfill days).

    The fact table reduces to one row per (key, bucket) in a single
    keyed aggregate; the pairwise slopes then assemble IN-ROW from the
    collected series (the bucket axis is bounded — e.g. 30 days — so
    the per-key pair list is bounded-square, never a self-join of the
    fact table), and the median picks from the sorted in-row array.
    """
    series = (
        df.groupBy(
            F.col(key_col).alias("key"),
            F.col(bucket_col).cast("double").alias("_b"),
        )
        .agg(F.sum(F.col(value_col).cast("double")).alias("_v"))
        .groupBy("key")
        .agg(
            F.sort_array(
                F.collect_list(F.struct("_b", "_v"))
            ).alias("_s")
        )
    )
    pts = F.col("_s")
    slopes = F.sort_array(
        F.flatten(
            F.transform(
                pts,
                lambda a, i: F.transform(
                    F.slice(pts, i + 2, F.size(pts)),
                    lambda b: (b["_v"] - a["_v"]) / (b["_b"] - a["_b"]),
                ),
            )
        )
    )
    m = F.size(F.col("_sl"))
    mid_hi = ((m + 1) / 2).cast("int")   # ceil(m/2) for odd m
    lo = (m / 2).cast("int")
    med = F.when(
        m % 2 == 1, F.element_at("_sl", mid_hi)
    ).otherwise(
        (F.element_at("_sl", lo) + F.element_at("_sl", lo + 1)) / 2.0
    )
    return (
        series.select("key", F.size(pts).alias("n_buckets"),
                      slopes.alias("_sl"))
        .filter(m >= 1)
        .select(
            "key",
            "n_buckets",
            m.cast("long").alias("n_pairs"),
            F.round(med, 6).alias("sen_slope"),
        )
    )


def gumbel_return_level(
    df: DataFrame,
    key_col: str,
    bucket_col: str,
    value_col: str = "value",
    p: float = 0.999,
) -> DataFrame:
    """Extreme-value capacity estimate per key: fit a Gumbel to the
    per-bucket MAXIMA by method of moments and report the p-return
    level — "the worst bucket you should expect once per 1/(1-p)
    buckets", the tail number a plain p99 over raw rows understates
    because maxima, not rows, are what capacity breaks on.

    beta = std*sqrt(6)/pi, mu = mean - gamma*beta (gamma =
    Euler-Mascheroni), level = mu - beta*ln(-ln(p)).  Two keyed
    aggregates (bucket max, then moment sums over the bounded bucket
    axis); moments from raw sums so both engines agree bit-for-bit.
    """
    mx = df.groupBy(
        F.col(key_col).alias("key"),
        F.col(bucket_col).alias("_b"),
    ).agg(F.max(F.col(value_col).cast("double")).alias("_m"))
    g = mx.groupBy("key").agg(
        F.count("*").cast("double").alias("_n"),
        F.sum("_m").alias("_s1"),
        F.sum(F.col("_m") * F.col("_m")).alias("_s2"),
    )
    n = F.col("_n")
    mean = F.col("_s1") / n
    var = F.col("_s2") / n - mean**2
    pi = 3.141592653589793
    gamma = 0.5772156649015329
    beta = F.sqrt(var) * (6.0 ** 0.5) / pi
    mu = mean - gamma * beta
    import math

    level = mu - beta * math.log(-math.log(p))
    return g.select(
        "key",
        n.cast("long").alias("n_buckets"),
        F.round(mean, 5).alias("mean_max"),
        F.round(mu, 5).alias("gumbel_mu"),
        F.round(beta, 5).alias("gumbel_beta"),
        F.round(level, 5).alias("return_level"),
    )


def rank_churn_topk(
    df: DataFrame,
    key_col: str,
    period_col: str,
    k: int = 10,
) -> DataFrame:
    """Top-k rank churn between consecutive periods: overlap share of
    the top-k key sets, entries new to the top-k, and the mean
    absolute rank shift of the stayers — the leaderboard-stability
    screen ("did this week's top tools actually change or just
    reshuffle?").

    Per-period counts are one fact shuffle; the top-k per period is a
    window rank INSIDE each period partition (never a global sort),
    and everything after runs on the bounded k x |periods| table.
    """
    from pyspark.sql.window import Window

    c = df.groupBy(
        F.col(period_col).alias("period"),
        F.col(key_col).alias("key"),
    ).agg(F.count("*").alias("_n"))
    w = Window.partitionBy("period").orderBy(
        F.col("_n").desc(), F.col("key")
    )
    top = c.select(
        "period", "key", F.row_number().over(w).alias("rank")
    ).filter(F.col("rank") <= k)
    prev = top.select(
        (F.col("period") + 1).alias("period"),
        F.col("key").alias("key"),
        F.col("rank").alias("prev_rank"),
    )
    j = top.join(prev, ["period", "key"], "full_outer").filter(
        # keep only periods present in the current top table
        F.col("rank").isNotNull() | F.col("prev_rank").isNotNull()
    )
    per = j.groupBy("period").agg(
        F.sum(
            (F.col("rank").isNotNull() & F.col("prev_rank").isNotNull())
            .cast("long")
        ).alias("n_stay"),
        F.sum(
            (F.col("rank").isNotNull() & F.col("prev_rank").isNull())
            .cast("long")
        ).alias("n_new"),
        F.sum(F.col("rank").isNotNull().cast("long")).alias("_k_now"),
        F.round(
            F.avg(
                F.when(
                    F.col("rank").isNotNull()
                    & F.col("prev_rank").isNotNull(),
                    F.abs(F.col("rank") - F.col("prev_rank")),
                )
            ),
            4,
        ).alias("mean_rank_shift"),
    )
    # drop the first period (no prior top-k) and phantom period rows
    # created by prev-shift beyond the last real period
    periods = c.select("period").distinct()
    real = per.join(periods, "period")
    first = c.agg(F.min("period").alias("_p0"))
    return (
        real.join(F.broadcast(first))
        .filter(F.col("period") > F.col("_p0"))
        .select(
            "period",
            "n_stay",
            "n_new",
            F.round(
                F.col("n_stay").cast("double")
                / F.col("_k_now").cast("double"),
                4,
            ).alias("overlap_share"),
            "mean_rank_shift",
        )
    )


def ece_calibration(
    df: DataFrame,
    prob_col: str,
    label_col: str,
    n_bins: int = 10,
) -> DataFrame:
    """Reliability-diagram bins + expected-calibration-error terms for
    a probabilistic classifier's scores: equal-width bins over
    ``prob_col`` in [0, 1], per bin the count, mean predicted
    probability, empirical positive rate, and the bin's |gap| weighted
    by its mass (the ECE summand).  Sum of ``ece_term`` over the
    output IS the ECE.

    One grouped aggregate over at most ``n_bins`` keys — map-side
    partials do all the work; the shuffle moves ``n_bins`` rows per
    task regardless of input size.  Probabilities exactly 1.0 fold
    into the top bin (the standard closed-right convention).
    """
    b = F.least(
        F.floor(F.col(prob_col) * n_bins).cast("int"),
        F.lit(n_bins - 1),
    )
    agg = (
        df.select(
            b.alias("bin"),
            F.col(prob_col).cast("double").alias("_p"),
            F.col(label_col).cast("double").alias("_y"),
        )
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.avg("_p").alias("_ap"),
            F.avg("_y").alias("_ay"),
        )
    )
    total = agg.select(F.sum("n").alias("_N"))
    return (
        agg.crossJoin(F.broadcast(total))
        .select(
            "bin",
            "n",
            F.round("_ap", 6).alias("mean_prob"),
            F.round("_ay", 6).alias("frac_pos"),
            F.round(
                F.abs(F.col("_ap") - F.col("_ay"))
                * F.col("n")
                / F.col("_N"),
                6,
            ).alias("ece_term"),
        )
        .orderBy("bin")
    )


def hill_tail_index(
    df: DataFrame,
    key_col: str,
    value_col: str = "value",
    k: int = 100,
    id_col: str = "event_id",
    n_salt: int = 32,
) -> DataFrame:
    """Hill estimator of the tail index per key: over the k largest
    positive values x_(1) >= ... >= x_(k),

        alpha_hat = (k-1) / sum_{i<k} ln(x_(i) / x_(k))

    — alpha < 2 means variance-infinite heavy tails (the distributions
    that break mean-based capacity planning and make per-key salting
    mandatory).  Ties broken by ``id_col`` so the top-k set is total-
    ordered and engine-portable.

    Scale design: a per-key ORDER BY window would sort every row of a
    hot key on one task.  Instead rows are salted into ``n_salt``
    lanes, each lane keeps its own top-k (rank window over a 1/32
    slice), and the exact global top-k per key is re-ranked over the
    surviving <= n_salt*k rows — the classic two-phase exact top-k.
    """
    pos = df.filter(F.col(value_col) > 0).select(
        F.col(key_col),
        F.col(value_col).cast("double").alias("_v"),
        F.col(id_col).alias("_id"),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_salt)).alias("_s"),
    )
    w1 = Window.partitionBy(key_col, "_s").orderBy(
        F.col("_v").desc(), F.col("_id")
    )
    cand = pos.withColumn("_r", F.row_number().over(w1)).filter(
        F.col("_r") <= k
    )
    w2 = Window.partitionBy(key_col).orderBy(
        F.col("_v").desc(), F.col("_id")
    )
    top = cand.withColumn("_r", F.row_number().over(w2)).filter(
        F.col("_r") <= k
    )
    xk = top.filter(F.col("_r") == k).select(
        key_col, F.col("_v").alias("_xk")
    )
    return (
        top.join(xk, key_col)
        .filter(F.col("_r") < k)
        .groupBy(key_col)
        .agg(
            F.count(F.lit(1)).alias("_m"),
            F.sum(F.log(F.col("_v") / F.col("_xk"))).alias("_lsum"),
            F.min("_xk").alias("_x"),
        )
        .select(
            key_col,
            (F.col("_m") + 1).cast("long").alias("k_used"),
            F.round("_x", 6).alias("x_k"),
            F.round(F.col("_m") / F.col("_lsum"), 6).alias("alpha_hat"),
        )
    )


def mann_whitney_shift(
    df: DataFrame,
    key_col: str,
    segment_col: str,
    value_col: str = "value",
) -> DataFrame:
    """Mann-Whitney U (Wilcoxon rank-sum) location-shift test per key
    between two segments (``segment_col`` = 0/1): average-rank U
    statistic for segment 0 and its normal-approximation z-score — the
    distribution-free A/B screen to reach for when the two-proportion
    z-test's binarization throws away the value column.  No tie
    correction in sigma (documented; ties only make |z| conservative).

    Scale design: ranks are NOT a per-key row sort.  Tied values share
    one average rank, so the rank table is built on the DISTINCT
    (key, value) pairs — one map-side-combined aggregate shrinks the
    data to the value histogram, and the cumulative window runs over
    that bounded table only.  R1 then folds back in one keyed
    aggregate: R1 = sum_v ca(v) * (below(v) + (c(v)+1)/2).
    """
    s = df.filter(F.col(value_col).isNotNull()).select(
        F.col(key_col),
        F.col(value_col).alias("_v"),
        F.col(segment_col).cast("int").alias("_g"),
    )
    d = s.groupBy(key_col, "_v").agg(
        F.count(F.lit(1)).alias("_c"),
        F.sum(F.when(F.col("_g") == 0, 1).otherwise(0)).alias("_ca"),
    )
    w = (
        Window.partitionBy(key_col)
        .orderBy("_v")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    r = d.withColumn("_cb", F.coalesce(F.sum("_c").over(w), F.lit(0)))
    agg = r.groupBy(key_col).agg(
        F.sum("_ca").alias("_n1"),
        (F.sum("_c") - F.sum("_ca")).alias("_n2"),
        F.sum(
            F.col("_ca") * (F.col("_cb") + (F.col("_c") + 1) / 2.0)
        ).alias("_r1"),
    )
    u = F.col("_r1") - F.col("_n1") * (F.col("_n1") + 1) / 2.0
    mu = F.col("_n1") * F.col("_n2") / 2.0
    sigma = F.sqrt(
        F.col("_n1") * F.col("_n2") * (F.col("_n1") + F.col("_n2") + 1) / 12.0
    )
    return agg.select(
        key_col,
        F.col("_n1").cast("long").alias("n_a"),
        F.col("_n2").cast("long").alias("n_b"),
        F.round(u, 4).alias("u_stat"),
        F.round((u - mu) / sigma, 4).alias("z_score"),
    )


def hhi_concentration(
    df: DataFrame,
    dim_col: str,
    entity_col: str,
) -> DataFrame:
    """Herfindahl-Hirschman concentration of activity per dimension:
    HHI = sum over entities of (entity's share of the dimension's
    rows)^2, plus the effective number of entities 1/HHI — the
    "is this event type really three power users?" screen that Gini
    complements (Gini measures inequality, HHI measures how few).

    Two keyed aggregates, both map-side combinable; nothing is
    broadcast and no window touches raw rows, so the plan is two
    shuffles of at most |dim x entity| and |dim| rows.
    """
    per = df.groupBy(dim_col, entity_col).agg(
        F.count(F.lit(1)).alias("_c")
    )
    return (
        per.groupBy(dim_col)
        .agg(
            F.count(F.lit(1)).alias("n_entities"),
            F.sum("_c").alias("_tot"),
            F.sum(F.col("_c").cast("double") * F.col("_c")).alias("_ss"),
        )
        .select(
            dim_col,
            "n_entities",
            F.col("_tot").cast("long").alias("n_rows"),
            F.round(
                F.col("_ss")
                / (F.col("_tot").cast("double") * F.col("_tot")),
                6,
            ).alias("hhi"),
            F.round(
                F.col("_tot").cast("double") * F.col("_tot") / F.col("_ss"),
                4,
            ).alias("effective_n"),
        )
    )


def welch_t_test(
    df: DataFrame,
    key_col: str,
    segment_col: str,
    value_col: str = "value",
) -> DataFrame:
    """Welch's unequal-variance t-test per key between two segments
    (``segment_col`` = 0/1): mean difference, t statistic, and the
    Welch-Satterthwaite degrees of freedom — the parametric partner of
    the rank-sum screen (Mann-Whitney) for A/B readouts on a value
    column.

    Means/variances come from RAW POWER SUMS (n, sum(x), sum(x^2)) in
    ONE map-side-combined keyed aggregate — the only formulation whose
    floating-point rendering Spark and DuckDB agree on — so the whole
    test is a single shuffle of |keys| rows.  Sample variance
    var = (s2 - s1^2/n) / (n-1).
    """
    s = df.filter(F.col(value_col).isNotNull()).select(
        F.col(key_col),
        F.col(value_col).cast("double").alias("_v"),
        F.col(segment_col).cast("int").alias("_g"),
    )
    g0 = F.when(F.col("_g") == 0, F.col("_v"))
    g1 = F.when(F.col("_g") == 1, F.col("_v"))
    agg = s.groupBy(key_col).agg(
        F.count(g0).alias("_n0"),
        F.sum(g0).alias("_s0"),
        F.sum(g0 * g0).alias("_q0"),
        F.count(g1).alias("_n1"),
        F.sum(g1).alias("_s1"),
        F.sum(g1 * g1).alias("_q1"),
    )
    m0 = F.col("_s0") / F.col("_n0")
    m1 = F.col("_s1") / F.col("_n1")
    v0 = (F.col("_q0") - F.col("_s0") * F.col("_s0") / F.col("_n0")) / (
        F.col("_n0") - 1
    )
    v1 = (F.col("_q1") - F.col("_s1") * F.col("_s1") / F.col("_n1")) / (
        F.col("_n1") - 1
    )
    se0 = v0 / F.col("_n0")
    se1 = v1 / F.col("_n1")
    t = (m0 - m1) / F.sqrt(se0 + se1)
    dof = (se0 + se1) * (se0 + se1) / (
        se0 * se0 / (F.col("_n0") - 1) + se1 * se1 / (F.col("_n1") - 1)
    )
    return agg.filter((F.col("_n0") > 1) & (F.col("_n1") > 1)).select(
        key_col,
        F.col("_n0").cast("long").alias("n_a"),
        F.col("_n1").cast("long").alias("n_b"),
        F.round(m0 - m1, 4).alias("mean_diff"),
        F.round(t, 4).alias("t_stat"),
        F.round(dof, 2).alias("df_welch"),
    )


def cramers_v(
    df: DataFrame,
    row_col: str,
    col_col: str,
) -> DataFrame:
    """Global chi-square independence test + Cramér's V for two
    categorical columns ("is the language mix independent of the
    source?"): one row with N, table shape, chi2, dof, and
    V = sqrt(chi2 / (N * (min(r,c) - 1))).

    Plan: ONE keyed aggregate to the |r x c| contingency table, then
    marginals via two windows over that bounded table (expected counts
    never touch raw rows), then a global fold.  chi2 folds through the
    identity  chi2 = N * (sum(o^2 / (rm * cm)) - 1)  so only one sum
    crosses the final exchange; total shuffled volume is the
    contingency table, never the data.
    """
    ct = (
        df.filter(F.col(row_col).isNotNull() & F.col(col_col).isNotNull())
        .groupBy(row_col, col_col)
        .agg(F.count(F.lit(1)).alias("_o"))
    )
    e = ct.select(
        F.col("_o").cast("double").alias("_o"),
        F.sum("_o").over(Window.partitionBy(row_col)).cast("double").alias("_rm"),
        F.sum("_o").over(Window.partitionBy(col_col)).cast("double").alias("_cm"),
        F.col(row_col).alias("_r"),
        F.col(col_col).alias("_c"),
    )
    agg = e.agg(
        F.sum("_o").alias("_n"),
        F.countDistinct("_r").alias("_nr"),
        F.countDistinct("_c").alias("_nc"),
        F.sum(F.col("_o") * F.col("_o") / (F.col("_rm") * F.col("_cm"))).alias("_t"),
    )
    chi2 = F.col("_n") * (F.col("_t") - 1)
    return agg.select(
        F.col("_n").cast("long").alias("n"),
        F.col("_nr").cast("long").alias("n_rows_cat"),
        F.col("_nc").cast("long").alias("n_cols_cat"),
        F.round(chi2, 4).alias("chi2"),
        ((F.col("_nr") - 1) * (F.col("_nc") - 1)).cast("long").alias("dof"),
        F.round(
            F.sqrt((F.col("_t") - 1) / (F.least("_nr", "_nc") - 1)), 6
        ).alias("cramers_v"),
    )


def wasserstein_drift(
    df: DataFrame,
    key_col: str,
    segment_col: str,
    value_col: str = "value",
) -> DataFrame:
    """1-D Wasserstein-1 (earth mover's) distance per key between two
    segments' value distributions:  W1 = integral |F_a(v) - F_b(v)| dv,
    computed exactly on the empirical CDFs — the drift number that,
    unlike KS (sup only) and PSI/JS (bin-dependent, blows up on empty
    bins), is in VALUE UNITS and weights how far mass moved.

    Scale design mirrors the rank-sum test: the CDFs live on the
    DISTINCT (key, value) histogram — one map-side-combined aggregate
    collapses raw rows to the value support, and the cumulative /
    total / next-knot windows all run over that bounded table.  The
    integral is then one keyed fold:  sum over support knots of
    |F_a - F_b| * (next_v - v).
    """
    s = df.filter(F.col(value_col).isNotNull()).select(
        F.col(key_col),
        F.col(value_col).cast("double").alias("_v"),
        F.col(segment_col).cast("int").alias("_g"),
    )
    d = s.groupBy(key_col, "_v").agg(
        F.sum(F.when(F.col("_g") == 0, 1).otherwise(0)).alias("_c0"),
        F.sum(F.when(F.col("_g") == 1, 1).otherwise(0)).alias("_c1"),
    )
    wcum = (
        Window.partitionBy(key_col)
        .orderBy("_v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wall = Window.partitionBy(key_col)
    wnext = Window.partitionBy(key_col).orderBy("_v")
    r = d.select(
        F.col(key_col),
        F.col("_v"),
        (F.sum("_c0").over(wcum) / F.sum("_c0").over(wall)).alias("_fa"),
        (F.sum("_c1").over(wcum) / F.sum("_c1").over(wall)).alias("_fb"),
        F.lead("_v").over(wnext).alias("_nv"),
        F.sum("_c0").over(wall).alias("_n0"),
        F.sum("_c1").over(wall).alias("_n1"),
    )
    return (
        r.groupBy(key_col)
        .agg(
            F.max("_n0").cast("long").alias("n_a"),
            F.max("_n1").cast("long").alias("n_b"),
            F.round(
                F.sum(
                    F.when(
                        F.col("_nv").isNotNull(),
                        F.abs(F.col("_fa") - F.col("_fb"))
                        * (F.col("_nv") - F.col("_v")),
                    ).otherwise(0.0)
                ),
                6,
            ).alias("w1_distance"),
        )
        .filter((F.col("n_a") > 0) & (F.col("n_b") > 0))
    )


def kendall_tau_daily(
    df: DataFrame,
    key_col: str,
    bucket_col: str,
    value_col: str = "value",
) -> DataFrame:
    """Kendall tau-b rank correlation per key between time and the
    per-bucket value series — the trend-EXISTENCE test that pairs with
    Theil-Sen's trend-SLOPE estimate (same robustness, same bounded
    series), and the complement of Spearman on the raw rows: this one
    asks "do the daily totals drift", not "do the points".

    Same scale shape as theil_sen_slope: ONE keyed aggregate collapses
    the fact table to a per-(key, bucket) series, the bounded-square
    pair signs assemble IN-ROW from the sorted series, and tau-b's tie
    correction comes from the same sign list (buckets are distinct so
    the time axis has no ties; value ties feed the sqrt term).
    """
    series = (
        df.groupBy(
            F.col(key_col).alias("key"),
            F.col(bucket_col).cast("double").alias("_b"),
        )
        .agg(F.sum(F.col(value_col).cast("double")).alias("_v"))
        .groupBy("key")
        .agg(
            F.sort_array(F.collect_list(F.struct("_b", "_v"))).alias("_s")
        )
    )
    pts = F.col("_s")
    sgn = F.flatten(
        F.transform(
            pts,
            lambda a, i: F.transform(
                F.slice(pts, i + 2, F.size(pts)),
                lambda b: F.signum(b["_v"] - a["_v"]).cast("int"),
            ),
        )
    )
    conc = F.size(F.filter(F.col("_g"), lambda x: x > 0))
    disc = F.size(F.filter(F.col("_g"), lambda x: x < 0))
    ties = F.size(F.filter(F.col("_g"), lambda x: x == 0))
    nb = F.col("n_buckets")
    n0 = (nb * (nb - 1) / 2).cast("double")
    return (
        series.select(
            "key", F.size(pts).alias("n_buckets"), sgn.alias("_g")
        )
        .filter(nb >= 2)
        .select(
            F.col("key"),
            nb.cast("long").alias("n_buckets"),
            conc.cast("long").alias("concordant"),
            disc.cast("long").alias("discordant"),
            F.round(
                (conc - disc) / F.sqrt(n0 * (n0 - ties)), 4
            ).alias("tau_b"),
        )
    )


def adjacency_violation_audit(
    df: DataFrame,
    key_col: str,
    order_col: str,
    label_col: str,
) -> DataFrame:
    """Per-sequence adjacency hygiene: for each key, how many adjacent
    positions repeat the same label — the transcript-sanity check
    ("did two assistant turns land back-to-back?") that catches
    broken turn assembly before training data ships.  Output per key:
    length, repeat count, repeat rate, strict-alternation flag.

    ONE window (lag over the per-key order) and ONE keyed aggregate —
    the window sort is per-key and keys are bounded-length sequences
    (conversations), the same locality contract as the batch
    processor's sortWithinPartitions.
    """
    w = Window.partitionBy(key_col).orderBy(order_col)
    same = (
        (F.col(label_col) == F.lag(label_col).over(w)).cast("int")
    )
    per = df.select(F.col(key_col), F.coalesce(same, F.lit(0)).alias("_s"))
    n = F.count(F.lit(1))
    return per.groupBy(key_col).agg(
        n.cast("long").alias("n_items"),
        F.sum("_s").cast("long").alias("adjacent_repeats"),
        F.round(
            F.when(n > 1, F.sum("_s") / (n - 1)).otherwise(0.0), 4
        ).alias("repeat_rate"),
        (F.sum("_s") == 0).alias("strictly_alternating"),
    )


def seasonality_strength(
    df: DataFrame,
    key_col: str,
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """One-way ANOVA variance decomposition of a value column across
    hour-of-day slots, per key: eta-squared (share of value variance
    explained by time-of-day) and the F statistic — the single number
    that says whether a series NEEDS a seasonal baseline
    (``seasonal_baseline_anomaly``) or a flat one suffices.

    Hour comes from pure epoch arithmetic (TZ-free, engine-portable —
    same convention as ``dow_hour_heatmap``).  Plan: ONE map-side-
    combined aggregate to the (key, hour) power sums (n, s, q), then a
    keyed fold over that bounded (<= 24 rows/key) table.  SS_between =
    sum(s_h^2/n_h) - s^2/n; SS_total = q - s^2/n; nothing but raw
    power sums crosses the exchange, the only formulation whose float
    rendering both engines agree on.
    """
    epoch = F.col(ts_col).cast("timestamp_ltz").cast("long")
    hour = F.floor((epoch % 86400) / 3600).cast("int")
    s = df.filter(F.col(value_col).isNotNull()).select(
        F.col(key_col),
        hour.alias("_h"),
        F.col(value_col).cast("double").alias("_v"),
    )
    per = s.groupBy(key_col, "_h").agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum("_v").alias("_s"),
        F.sum(F.col("_v") * F.col("_v")).alias("_q"),
    )
    agg = per.groupBy(key_col).agg(
        F.sum("_n").alias("_nn"),
        F.sum("_s").alias("_ss"),
        F.sum("_q").alias("_qq"),
        F.count(F.lit(1)).alias("_k"),
        F.sum(F.col("_s") * F.col("_s") / F.col("_n")).alias("_sb"),
    )
    cf = F.col("_ss") * F.col("_ss") / F.col("_nn")
    ss_b = F.col("_sb") - cf
    ss_t = F.col("_qq") - cf
    # qq - sb, not ss_t - ss_b: algebraically equal, but this float
    # form is the one the independent oracle also computes, so the
    # ss_w > 0 guard can never flip on fold-order noise.
    ss_w = F.col("_qq") - F.col("_sb")
    fstat = (ss_b / (F.col("_k") - 1)) / (ss_w / (F.col("_nn") - F.col("_k")))
    return agg.filter(
        (F.col("_k") >= 2) & (F.col("_nn") > F.col("_k"))
    ).select(
        key_col,
        F.col("_nn").cast("long").alias("n"),
        F.col("_k").cast("long").alias("n_hours"),
        F.round(
            F.when(ss_t > 0, ss_b / ss_t).otherwise(0.0), 6
        ).alias("eta_sq"),
        F.round(
            F.when(ss_w > 0, fstat), 4
        ).alias("f_stat"),
    )


def lead_lag_xcorr(
    df: DataFrame,
    key_col: str,
    ts_col: str = "ts",
    value_col: str = "value",
    max_lag: int = 3,
) -> DataFrame:
    """Lead-lag cross-correlation between every pair of keys' daily
    value series: Pearson correlation of series A against series B
    shifted by each lag in [-max_lag, +max_lag] (positive lag = A
    leads B) — the "does login volume predict purchase volume two days
    later" detector that a lag-0 correlation matrix
    (``metric_correlations``) structurally misses.

    Scale design: the fact table collapses to per-(key, epoch-day)
    sums in ONE map-side-combined aggregate; every series gap-fills to
    the GLOBAL day span (a 1-row broadcast) so lags align across keys
    — the dense-grid discipline ``mase_baseline`` taught.  Pairs come
    from a self-join of the |keys|-row series table (AQE picks the
    strategy), lags explode that bounded table 2*max_lag+1 ways, and
    each correlation folds IN-ROW over the zipped slices — the fact
    table is never self-joined and nothing downstream of the first
    aggregate exceeds |keys|^2 * lags rows.
    """
    day = F.floor(
        F.col(ts_col).cast("timestamp_ltz").cast("long") / 86400
    ).cast("long")
    per = (
        df.filter(F.col(value_col).isNotNull())
        .groupBy(F.col(key_col).alias("_k"), day.alias("_d"))
        .agg(F.sum(F.col(value_col).cast("double")).alias("_v"))
    )
    span = per.agg(F.min("_d").alias("_d0"), F.max("_d").alias("_d1"))
    series = (
        per.groupBy("_k")
        .agg(
            F.map_from_arrays(
                F.collect_list("_d"), F.collect_list("_v")
            ).alias("_m")
        )
        .crossJoin(F.broadcast(span))
        .select(
            "_k",
            F.transform(
                F.sequence(F.col("_d0"), F.col("_d1")),
                lambda d: F.coalesce(
                    F.element_at(F.col("_m"), d), F.lit(0.0)
                ),
            ).alias("_xs"),
        )
    )
    pairs = (
        series.select(
            F.col("_k").alias("key_a"), F.col("_xs").alias("_xa")
        )
        .join(
            series.select(
                F.col("_k").alias("key_b"), F.col("_xs").alias("_xb")
            ),
            F.col("key_a") < F.col("key_b"),
        )
        .select(
            "key_a",
            "key_b",
            "_xa",
            "_xb",
            F.explode(
                F.array(
                    *[F.lit(l) for l in range(-max_lag, max_lag + 1)]
                )
            ).alias("lag"),
        )
    )
    n = F.size("_xa")
    ln = F.col("lag")
    m = n - F.abs(ln)
    ax = F.when(ln >= 0, F.slice("_xa", 1, m)).otherwise(
        F.slice("_xa", 1 - ln, m)
    )
    by = F.when(ln >= 0, F.slice("_xb", ln + 1, m)).otherwise(
        F.slice("_xb", 1, m)
    )
    zipped = F.zip_with(
        ax, by, lambda x, y: F.struct(x.alias("x"), y.alias("y"))
    )
    zero = F.struct(
        F.lit(0.0).alias("sx"),
        F.lit(0.0).alias("sy"),
        F.lit(0.0).alias("sxx"),
        F.lit(0.0).alias("syy"),
        F.lit(0.0).alias("sxy"),
    )
    acc = F.aggregate(
        zipped,
        zero,
        lambda a, p: F.struct(
            (a["sx"] + p["x"]).alias("sx"),
            (a["sy"] + p["y"]).alias("sy"),
            (a["sxx"] + p["x"] * p["x"]).alias("sxx"),
            (a["syy"] + p["y"] * p["y"]).alias("syy"),
            (a["sxy"] + p["x"] * p["y"]).alias("sxy"),
        ),
    )
    md = m.cast("double")
    vx = md * acc["sxx"] - acc["sx"] * acc["sx"]
    vy = md * acc["syy"] - acc["sy"] * acc["sy"]
    cov = md * acc["sxy"] - acc["sx"] * acc["sy"]
    return pairs.filter(m >= 2).select(
        "key_a",
        "key_b",
        ln.cast("int").alias("lag"),
        m.cast("long").alias("n_overlap"),
        F.round(
            F.when((vx > 0) & (vy > 0), cov / F.sqrt(vx * vy)), 4
        ).alias("xcorr"),
    )


def cliffs_delta(
    df: DataFrame,
    key_col: str,
    segment_col: str,
    value_col: str = "value",
) -> DataFrame:
    """Cliff's delta ordinal effect size per key between two segments:
    d = (#{a > b} - #{a < b}) / (n_a * n_b) — the practical-
    significance partner of the Mann-Whitney screen (a huge sample
    makes ANY shift "significant"; delta says whether it is big), with
    the standard magnitude bands (|d| < .147 negligible, < .33 small,
    < .474 medium, else large; Romano et al. 2006).

    Same scale shape as ``mann_whitney_shift``: comparisons are NEVER
    pairwise — the DISTINCT (key, value) histogram carries per-value
    segment counts, a cumulative window over that bounded table gives
    "B-values strictly below v", and the pair counts fold in one keyed
    aggregate: wins = sum_v ca(v) * below_b(v), losses symmetric.
    The band comes from the ROUNDED delta so it is engine-stable.
    """
    s = df.filter(F.col(value_col).isNotNull()).select(
        F.col(key_col),
        F.col(value_col).alias("_v"),
        F.col(segment_col).cast("int").alias("_g"),
    )
    d = s.groupBy(key_col, "_v").agg(
        F.sum(F.when(F.col("_g") == 0, 1).otherwise(0)).alias("_ca"),
        F.sum(F.when(F.col("_g") == 1, 1).otherwise(0)).alias("_cb"),
    )
    w = (
        Window.partitionBy(key_col)
        .orderBy("_v")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    wall = Window.partitionBy(key_col)
    r = d.select(
        F.col(key_col),
        "_ca",
        "_cb",
        F.coalesce(F.sum("_cb").over(w), F.lit(0)).alias("_below"),
        F.sum("_cb").over(wall).alias("_nb"),
    )
    agg = r.groupBy(key_col).agg(
        F.sum("_ca").alias("_na"),
        F.max("_nb").alias("_nbt"),
        F.sum(F.col("_ca") * F.col("_below")).alias("_wins"),
        F.sum(
            F.col("_ca")
            * (F.col("_nb") - F.col("_below") - F.col("_cb"))
        ).alias("_losses"),
    )
    delta = F.round(
        (F.col("_wins") - F.col("_losses"))
        / (F.col("_na").cast("double") * F.col("_nbt")),
        4,
    )
    mag = (
        F.when(F.abs(delta) < 0.147, "negligible")
        .when(F.abs(delta) < 0.33, "small")
        .when(F.abs(delta) < 0.474, "medium")
        .otherwise("large")
    )
    return agg.filter((F.col("_na") > 0) & (F.col("_nbt") > 0)).select(
        key_col,
        F.col("_na").cast("long").alias("n_a"),
        F.col("_nbt").cast("long").alias("n_b"),
        delta.alias("cliffs_delta"),
        mag.alias("magnitude"),
    )


def brier_decomposition(
    df: DataFrame,
    prob_col: str,
    label_col: str,
    n_bins: int = 10,
) -> DataFrame:
    """Murphy decomposition of the Brier score over equal-width
    forecast bins: BRIER = mean((p - y)^2), RELIABILITY = sum_b n_b *
    (pbar_b - ybar_b)^2 / N (calibration error, lower better),
    RESOLUTION = sum_b n_b * (ybar_b - ybar)^2 / N (discrimination,
    higher better), UNCERTAINTY = ybar * (1 - ybar) — the
    proper-scoring-rule companion to ``ece_calibration`` (ECE ranks
    |gap|; this one says whether a calibrated-but-flat forecaster or a
    sharp-but-biased one is losing more score).  One summary row.

    Plan: ONE grouped aggregate to n_bins rows (carrying n, sum p,
    sum y, sum (p-y)^2 — all map-side partials), then a 1-row fold
    over that bounded table.  The exact identity BRIER = REL - RES +
    UNC holds only for within-bin-constant forecasts, so all four
    terms are computed from sums, none derived.
    """
    b = F.least(
        F.floor(F.col(prob_col) * n_bins).cast("int"),
        F.lit(n_bins - 1),
    )
    per = (
        df.select(
            b.alias("_b"),
            F.col(prob_col).cast("double").alias("_p"),
            F.col(label_col).cast("double").alias("_y"),
        )
        .groupBy("_b")
        .agg(
            F.count(F.lit(1)).alias("_n"),
            F.sum("_p").alias("_sp"),
            F.sum("_y").alias("_sy"),
            F.sum(
                (F.col("_p") - F.col("_y")) * (F.col("_p") - F.col("_y"))
            ).alias("_sq"),
        )
    )
    tot = per.agg(
        F.sum("_n").alias("_N"),
        F.sum("_sy").alias("_ty"),
        F.sum("_sq").alias("_tq"),
        F.sum(
            F.col("_n")
            * F.pow(F.col("_sp") / F.col("_n") - F.col("_sy") / F.col("_n"), 2)
        ).alias("_rel"),
        # sum_b n_b * ybar_b^2: RES = this/N - ybar^2 (shift identity)
        F.sum(
            F.col("_n") * F.pow(F.col("_sy") / F.col("_n"), 2)
        ).alias("_sy2"),
    )
    ybar = F.col("_ty") / F.col("_N")
    res = F.col("_sy2") / F.col("_N") - ybar * ybar
    return tot.select(
        F.col("_N").cast("long").alias("n"),
        F.round(F.col("_tq") / F.col("_N"), 6).alias("brier_score"),
        F.round(F.col("_rel") / F.col("_N"), 6).alias("reliability"),
        F.round(res, 6).alias("resolution"),
        F.round(ybar * (1 - ybar), 6).alias("uncertainty"),
    )


def km_survival(
    df: DataFrame,
    user_col: str,
    ts_col: str = "ts",
    horizon_days: int = 7,
) -> DataFrame:
    """Kaplan-Meier survival curve with right-censoring — the estimator
    ``lifetime_survival`` documents as its own upgrade: a user whose
    last activity falls within ``horizon_days`` of the corpus end is
    CENSORED (still alive at observation end), not churned, so the
    naive "share active >= d days" curve is biased low exactly where
    retention decisions look.

    Per user: lifetime = floor((last-first)/day); death if the last
    event is more than ``horizon_days`` before the global corpus max
    (the user verifiably went quiet), censored otherwise.  Standard KM:
    at each distinct lifetime ``d`` with ``deaths_d`` deaths out of
    ``n_risk_d = #users with lifetime >= d``, the curve multiplies by
    ``(1 - deaths_d / n_risk_d)``; censored users leave the risk set
    without a factor.

    Scale shape: one user-keyed aggregate collapses the fact table;
    everything after runs on the bounded distinct-lifetime-day table
    (<= corpus-span days), which collapses to ONE row for the prefix
    products — the sequential product folds in-row (``F.aggregate``
    over a ``1.0``-seeded slice) exactly like ``ewma_smooth``, so an
    oracle replays the identical IEEE multiply order via
    ``list_reduce(list_prepend(1.0, ...))``.
    """
    epoch = F.col(ts_col).cast("timestamp_ltz").cast("double")
    per_user = df.groupBy(F.col(user_col).alias("_u")).agg(
        F.min(epoch).alias("_f"), F.max(epoch).alias("_l")
    )
    gmax = df.agg(F.max(epoch).alias("_gm"))
    u = per_user.crossJoin(F.broadcast(gmax)).select(
        F.floor((F.col("_l") - F.col("_f")) / 86400.0)
        .cast("long")
        .alias("_day"),
        (
            F.col("_l") < F.col("_gm") - F.lit(horizon_days * 86400.0)
        ).cast("long").alias("_death"),
    )
    per_day = u.groupBy("_day").agg(
        F.sum("_death").alias("_deaths"),
        (F.count("*") - F.sum("_death")).alias("_censored"),
    )
    wall = Window.partitionBy(F.lit(1))
    wprev = (
        Window.partitionBy(F.lit(1))
        .orderBy("_day")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    risk = per_day.select(
        "_day",
        "_deaths",
        "_censored",
        (
            F.sum(F.col("_deaths") + F.col("_censored")).over(wall)
            - F.coalesce(
                F.sum(F.col("_deaths") + F.col("_censored")).over(wprev),
                F.lit(0),
            )
        ).alias("_n_risk"),
    ).withColumn(
        "_factor",
        F.lit(1.0)
        - F.col("_deaths").cast("double") / F.col("_n_risk"),
    )
    arr = risk.agg(
        F.sort_array(
            F.collect_list(
                F.struct("_day", "_deaths", "_censored", "_n_risk", "_factor")
            )
        ).alias("_a")
    )
    factors = F.transform("_a", lambda s: s["_factor"])
    ex = arr.select(
        F.col("_a"),
        factors.alias("_fs"),
        F.explode(F.sequence(F.lit(1), F.size("_a"))).alias("_i"),
    )
    row = F.element_at("_a", F.col("_i"))
    surv = F.aggregate(
        F.slice(F.col("_fs"), F.lit(1), F.col("_i")),
        F.lit(1.0),
        lambda acc, x: acc * x,
    )
    return ex.select(
        row["_day"].alias("duration_day"),
        row["_n_risk"].cast("long").alias("n_risk"),
        row["_deaths"].cast("long").alias("deaths"),
        row["_censored"].cast("long").alias("censored"),
        F.round(surv, 6).alias("survival"),
    )


def page_hinkley(
    df: DataFrame,
    key_col: str,
    order_col: str,
    value_col: str,
    delta: float = 0.0,
    lam: float = 25.0,
) -> DataFrame:
    """Page-Hinkley upward change detection per key (Page 1954; the
    sequential mean-shift test behind streaming drift detectors):
    over the ``order_col``-sorted series, with the RUNNING mean
    ``mean_t`` of the first t points,
    ``m_t = m_{t-1} + (x_t - mean_t - delta)`` accumulates deviations,
    ``PH_t = m_t - min_{i<=t} m_i`` measures how far the series has
    climbed off its historical floor, and the alarm fires at the first
    t with ``PH_t > lam``.  Unlike the windowed z-score
    (``rate_anomaly_scores``) it needs no window size and detects slow
    drifts, not just bursts.

    The recurrence is sequential per key, so it folds in-row over the
    per-key sorted value array (the ``ewma_smooth`` shape) with a
    6-slot double-array state ``[t, sum, m, min_m, ph_max, alarm_t]``
    — one grouped pass, state O(points-per-key), intended for the
    bounded minute-bucket series.  An oracle replays the identical
    IEEE fold via ``list_reduce`` over the same state array.
    """
    per_key, xs = _ordered_series(df, key_col, order_col, value_col)
    zero = F.array(*[F.lit(0.0)] * 6)

    def step(acc, x):
        t = F.element_at(acc, 1) + 1.0
        s = F.element_at(acc, 2) + x
        m = F.element_at(acc, 3) + (x - s / t - F.lit(delta))
        min_m = F.least(F.element_at(acc, 4), m)
        ph = m - min_m
        ph_max = F.greatest(F.element_at(acc, 5), ph)
        alarm = F.when(
            F.element_at(acc, 6) > 0, F.element_at(acc, 6)
        ).otherwise(F.when(ph > F.lit(lam), t).otherwise(F.lit(0.0)))
        return F.array(t, s, m, min_m, ph_max, alarm)

    st = F.aggregate(xs, zero, step)
    alarm_t = F.element_at(st, 6)
    return per_key.select(
        "key",
        F.size("_pts").cast("long").alias("n_points"),
        F.round(F.element_at(st, 5), 6).alias("ph_max"),
        (alarm_t > 0).alias("alarmed"),
        F.when(alarm_t > 0, alarm_t.cast("long")).alias("alarm_idx"),
    )


def qq_shift(
    df: DataFrame,
    key_col: str,
    segment_col: str,
    value_col: str = "value",
    deciles: tuple[float, ...] = (
        0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9,
    ),
) -> DataFrame:
    """QQ decile-shift profile per key between two segments — WHERE in
    the distribution the drift lives: ``wasserstein_drift`` reports
    the total transport and ``ks_value_drift`` the max CDF gap; this
    reports the per-decile quantile difference, separating "the tail
    regressed" from "the whole curve moved" (the first question a
    latency investigation asks).

    Both segments' exact interpolated decile vectors compute in ONE
    keyed aggregate (conditional ``percentile`` per segment — the
    engine-parity primitive ``hourly_latency_bands`` pinned), then the
    bounded (key x decile) table explodes in-row.  No join, no window,
    no second pass over facts.
    """
    qs = F.array(*[F.lit(q) for q in deciles])
    seg = F.col(segment_col).cast("int")
    v = F.col(value_col).cast("double")
    agg = df.filter(v.isNotNull()).groupBy(
        F.col(key_col).alias("key")
    ).agg(
        F.sum(F.when(seg == 0, 1).otherwise(0)).cast("long").alias("n_a"),
        F.sum(F.when(seg == 1, 1).otherwise(0)).cast("long").alias("n_b"),
        F.percentile(F.when(seg == 0, v), qs).alias("_qa"),
        F.percentile(F.when(seg == 1, v), qs).alias("_qb"),
    )
    ex = agg.filter(
        (F.col("n_a") > 0) & (F.col("n_b") > 0)
    ).select(
        "key",
        "n_a",
        "n_b",
        "_qa",
        "_qb",
        F.explode(F.sequence(F.lit(1), F.lit(len(deciles)))).alias("_i"),
    )
    qa = F.element_at("_qa", F.col("_i"))
    qb = F.element_at("_qb", F.col("_i"))
    return ex.select(
        "key",
        "n_a",
        "n_b",
        F.round(
            F.element_at(qs, F.col("_i")) * 100
        ).cast("int").alias("pct"),
        F.round(qa, 6).alias("q_a"),
        F.round(qb, 6).alias("q_b"),
        F.round(qb - qa, 6).alias("shift"),
    )


def eb_shrunk_rates(
    df: DataFrame,
    key_col: str,
    success_col: str,
) -> DataFrame:
    """Empirical-Bayes (beta-binomial) shrunk rates per key — the
    "which key REALLY has the highest rate" ranking that raw shares
    get wrong for thin keys: the per-key rate distribution fits a
    Beta(alpha, beta) prior by method of moments
    (``alpha = mu*(mu(1-mu)/var - 1)``, ``beta = alpha*(1/mu - 1)``),
    and each key's posterior mean is
    ``(successes + alpha) / (n + alpha + beta)`` — small-n keys shrink
    hard toward the pooled mean, large-n keys barely move.

    One keyed aggregate builds the (key, n, successes) table; the
    prior fits from ONE row of power sums over that bounded table and
    joins back as a broadcast.  Degenerate fits (zero variance, or
    var >= mu(1-mu) so the moments leave the Beta family) surface
    NULL alpha/beta and the shrunk rate falls back to the raw rate.
    """
    per = df.groupBy(F.col(key_col).alias("key")).agg(
        F.count("*").alias("n"),
        F.sum(F.col(success_col).cast("int")).alias("s"),
    )
    r = F.col("s").cast("double") / F.col("n")
    rates = per.select("key", "n", "s", r.alias("_r"))
    stats = rates.agg(
        F.count("*").alias("_k"),
        F.sum("_r").alias("_sr"),
        F.sum(F.col("_r") * F.col("_r")).alias("_srr"),
    ).select(
        (F.col("_sr") / F.col("_k")).alias("_mu"),
        (
            F.col("_srr") / F.col("_k")
            - (F.col("_sr") / F.col("_k")) * (F.col("_sr") / F.col("_k"))
        ).alias("_var"),
    )
    j = rates.crossJoin(F.broadcast(stats))
    mu, var = F.col("_mu"), F.col("_var")
    fit_ok = (var > 0) & (var < mu * (1.0 - mu))
    alpha = F.when(fit_ok, mu * (mu * (1.0 - mu) / var - 1.0))
    beta = F.when(fit_ok, alpha * (1.0 / mu - 1.0))
    shrunk = F.when(
        fit_ok,
        (F.col("s") + alpha) / (F.col("n") + alpha + beta),
    ).otherwise(F.col("_r"))
    return j.select(
        "key",
        F.col("n").cast("long").alias("n"),
        F.col("s").cast("long").alias("successes"),
        F.round("_r", 6).alias("raw_rate"),
        F.round(mu, 6).alias("pooled_mean"),
        F.round(alpha, 6).alias("prior_alpha"),
        F.round(beta, 6).alias("prior_beta"),
        F.round(shrunk, 6).alias("shrunk_rate"),
    )


def average_precision(
    df: DataFrame,
    key_col: str,
    score_col: str,
    label_col: str,
) -> DataFrame:
    """Tie-aware expected Average Precision per key (McSherry &
    Najork, ECIR 2008) — threshold-free ranking quality beside the
    calibration pair (``ece_calibration``/``brier_decomposition``):
    AP under a UNIFORM RANDOM order within tied-score blocks, which is
    the only engine-stable definition (a unique-id tie-break would
    rank by an arbitrary column; random-within-ties is the published
    convention).

    For block b (scores descending) with n_b items, p_b positives,
    R_b positives before it and S_b items before it, linearity of
    expectation gives the exact contribution
    ``sum_{k=1..n_b} (p_b/n_b) * (R_b + 1 + (k-1)(p_b-1)/(n_b-1))
    / (S_b + k)`` and ``AP = sum_b contrib_b / n_pos``.

    Scale shape: ONE keyed shuffle builds the (key, score) histogram;
    cumulative windows run over that bounded table; the k-sum folds
    in-row over the tie-block length.  The fact table is never
    globally sorted and never windowed.
    """
    s = df.select(
        F.col(key_col).alias("key"),
        F.col(score_col).cast("double").alias("_sc"),
        F.col(label_col).cast("int").alias("_y"),
    )
    blk = s.groupBy("key", "_sc").agg(
        F.count("*").alias("_n"), F.sum("_y").alias("_p")
    )
    wprev = (
        Window.partitionBy("key")
        .orderBy(F.col("_sc").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    b = blk.select(
        "key",
        "_n",
        "_p",
        F.coalesce(F.sum("_n").over(wprev), F.lit(0)).alias("_sb"),
        F.coalesce(F.sum("_p").over(wprev), F.lit(0)).alias("_rb"),
    )
    nb = F.col("_n").cast("double")
    pb = F.col("_p").cast("double")
    within = F.when(
        F.col("_n") > 1,
        (pb - 1.0) / (nb - 1.0),
    ).otherwise(F.lit(0.0))
    contrib = F.aggregate(
        F.sequence(F.lit(1), F.col("_n")),
        F.lit(0.0),
        lambda acc, k: acc
        + (pb / nb)
        * (F.col("_rb") + 1.0 + (k.cast("double") - 1.0) * within)
        / (F.col("_sb") + k.cast("double")),
    )
    agg = b.groupBy("key").agg(
        F.sum(F.col("_n")).cast("long").alias("n"),
        F.sum(F.col("_p")).cast("long").alias("n_pos"),
        F.sum(F.when(F.col("_p") > 0, contrib).otherwise(0.0)).alias(
            "_ap_sum"
        ),
    )
    return agg.filter(F.col("n_pos") > 0).select(
        "key",
        "n",
        "n_pos",
        F.round(F.col("_ap_sum") / F.col("n_pos"), 6).alias(
            "avg_precision"
        ),
    )


def ndcg_at_k(
    df: DataFrame,
    key_col: str,
    score_col: str,
    label_col: str,
    k: int = 10,
) -> DataFrame:
    """Tie-aware expected nDCG@k per key — the position-discounted
    companion of ``average_precision`` (same McSherry-Najork
    random-within-ties convention): for a tied-score block with n_b
    items and p_b positives covering global ranks sb+1..sb+n_b, the
    expected gain at each covered rank is exactly ``p_b/n_b``
    (uniformity), so
    ``E[DCG@k] = sum_blocks (p_b/n_b) * sum_{r in block, r<=k}
    1/log2(r+1)`` — exact by linearity, no sampling.  The ideal DCG
    folds from ``min(n_pos, k)`` leading ranks; both use
    ``ln(r+1)/ln(2)`` explicitly so the discount is engine-portable.

    Same scale shape as ``average_precision``: one keyed histogram
    shuffle, bounded-window cumulatives, in-row rank folds capped at
    ``k`` — the fact table is never sorted.
    """
    ln2 = F.lit(2.0)
    s = df.select(
        F.col(key_col).alias("key"),
        F.col(score_col).cast("double").alias("_sc"),
        F.col(label_col).cast("int").alias("_y"),
    )
    blk = s.groupBy("key", "_sc").agg(
        F.count("*").alias("_n"), F.sum("_y").alias("_p")
    )
    wprev = (
        Window.partitionBy("key")
        .orderBy(F.col("_sc").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    b = blk.select(
        "key",
        "_n",
        "_p",
        F.coalesce(F.sum("_n").over(wprev), F.lit(0)).alias("_sb"),
    )
    span = F.least(
        F.col("_n").cast("int"),
        F.greatest(F.lit(k) - F.col("_sb").cast("int"), F.lit(0)),
    )
    # Spark's sequence(1, 0) DESCENDS — guard empty spans explicitly.
    seq = F.when(span > 0, F.sequence(F.lit(1), span)).otherwise(
        F.array().cast("array<int>")
    )
    disc_sum = F.aggregate(
        seq,
        F.lit(0.0),
        lambda acc, i: acc
        + F.lit(1.0)
        / (
            F.log((F.col("_sb") + i.cast("double")) + 1.0)
            / F.log(ln2)
        ),
    )
    contrib = F.when(
        (span > 0) & (F.col("_p") > 0),
        (F.col("_p").cast("double") / F.col("_n")) * disc_sum,
    ).otherwise(F.lit(0.0))
    agg = b.groupBy("key").agg(
        F.sum("_n").cast("long").alias("n"),
        F.sum("_p").cast("long").alias("n_pos"),
        F.sum(contrib).alias("_dcg"),
    )
    ideal_span = F.least(F.col("n_pos"), F.lit(k).cast("long")).cast(
        "int"
    )
    iseq = F.when(
        ideal_span > 0, F.sequence(F.lit(1), ideal_span)
    ).otherwise(F.array().cast("array<int>"))
    idcg = F.aggregate(
        iseq,
        F.lit(0.0),
        lambda acc, i: acc
        + F.lit(1.0) / (F.log(i.cast("double") + 1.0) / F.log(ln2)),
    )
    return agg.filter(F.col("n_pos") > 0).select(
        "key",
        "n",
        "n_pos",
        F.round("_dcg", 6).alias(f"dcg_at_{k}"),
        F.round(F.col("_dcg") / idcg, 6).alias(f"ndcg_at_{k}"),
    )


def holt_winters_seasonal(
    df: DataFrame,
    key_col: str,
    order_col: str,
    value_col: str,
    season: int = 24,
    alpha: float = 0.3,
    beta: float = 0.1,
    gamma: float = 0.2,
) -> DataFrame:
    """Additive Holt-Winters TRIPLE exponential smoothing per key —
    the seasonal upgrade of ``holt_smooth`` (a signalfx detector's
    forecast block for daily-cyclic series): level, trend and a
    rotating ``season``-slot additive seasonal component,
    ``l' = a(x - s) + (1-a)(l + t)``, ``t' = b(l' - l) + (1-b)t``,
    ``s' = g(x - l') + (1-g)s``, seasons initialized to zero (pinned
    convention; the first cycle learns them).

    The sequential recurrence folds in-row over the per-key sorted
    bucket series with a ``(2 + season)``-slot double-array state —
    the season queue rides IN the state and rotates each step
    (``[l', t', s_2..s_m, s_new']``), so an oracle replays the
    identical IEEE fold via ``list_reduce`` with a list-valued
    accumulator (the holt_smooth DuckDB-quirk workaround, generalized).
    One grouped pass; state O(season) per key.
    """
    per_key, xs = _ordered_series(df, key_col, order_col, value_col)
    zero = F.array(*[F.lit(0.0)] * (2 + season))
    a, b, g = float(alpha), float(beta), float(gamma)

    def step(acc, x):
        l0 = F.element_at(acc, 1)
        t0 = F.element_at(acc, 2)
        s0 = F.element_at(acc, 3)
        lnew = F.lit(a) * (x - s0) + F.lit(1.0 - a) * (l0 + t0)
        tnew = F.lit(b) * (lnew - l0) + F.lit(1.0 - b) * t0
        snew = F.lit(g) * (x - lnew) + F.lit(1.0 - g) * s0
        return F.concat(
            F.array(lnew, tnew),
            F.slice(acc, 4, season - 1),
            F.array(snew),
        )

    st = F.aggregate(xs, zero, step)
    level = F.element_at(st, 1)
    trend = F.element_at(st, 2)
    s_next = F.element_at(st, 3)
    return per_key.select(
        "key",
        F.size("_pts").cast("long").alias("n_points"),
        F.round(level, 6).alias("level"),
        F.round(trend, 6).alias("trend"),
        F.round(s_next, 6).alias("season_next"),
        F.round(level + trend + s_next, 6).alias("forecast_next"),
    )


def sprt_test(
    df: DataFrame,
    key_col: str,
    order_col: str,
    n_col: str,
    success_col: str,
    p0: float = 0.25,
    p1: float = 0.35,
    log_a: float = 2.9444389791664403,
) -> DataFrame:
    """Wald's Sequential Probability Ratio Test per key (Wald 1945 —
    the always-valid sequential A/B stopping rule behind "can we call
    this experiment yet"): over the ``order_col``-sorted per-bucket
    (n, successes) summaries, the binomial log-likelihood ratio
    ``llr += s*ln(p1/p0) + (n-s)*ln((1-p1)/(1-p0))`` walks until it
    crosses ``+log_a`` (accept H1: rate is p1) or ``-log_a`` (accept
    H0) — alpha = beta = 0.05 gives ``log_a = ln(19)``.

    Runs on the BOUNDED bucket summaries (daily conversion counts),
    never raw rows — the sequential fold is in-row with a 4-slot
    state ``[llr, decision, decided_bucket_idx, idx]``; an oracle
    replays the identical IEEE fold.  Once decided, the walk freezes
    (sequential semantics: you stop looking).
    """
    lr1 = float(__import__("math").log(p1 / p0))
    lr0 = float(__import__("math").log((1.0 - p1) / (1.0 - p0)))
    per_key = df.groupBy(F.col(key_col).alias("key")).agg(
        F.sort_array(
            F.collect_list(
                F.struct(
                    F.col(order_col).alias("o"),
                    F.col(n_col).cast("double").alias("n"),
                    F.col(success_col).cast("double").alias("s"),
                )
            )
        ).alias("_pts")
    )
    zero = F.array(*[F.lit(0.0)] * 4)

    def step(acc, e):
        idx = F.element_at(acc, 4) + 1.0
        decided = F.element_at(acc, 2) != 0.0
        llr = F.when(decided, F.element_at(acc, 1)).otherwise(
            F.element_at(acc, 1)
            + e["s"] * F.lit(lr1)
            + (e["n"] - e["s"]) * F.lit(lr0)
        )
        dec = F.when(decided, F.element_at(acc, 2)).otherwise(
            F.when(llr > F.lit(log_a), F.lit(1.0))
            .when(llr < F.lit(-log_a), F.lit(-1.0))
            .otherwise(F.lit(0.0))
        )
        dat = F.when(decided, F.element_at(acc, 3)).otherwise(
            F.when(dec != 0.0, idx).otherwise(F.lit(0.0))
        )
        return F.array(llr, dec, dat, idx)

    st = F.aggregate(F.col("_pts"), zero, step)
    dec = F.element_at(st, 2)
    return per_key.select(
        "key",
        F.size("_pts").cast("long").alias("n_buckets"),
        F.round(F.element_at(st, 1), 6).alias("final_llr"),
        F.when(dec == 1.0, F.lit("accept_h1"))
        .when(dec == -1.0, F.lit("accept_h0"))
        .otherwise(F.lit("undecided"))
        .alias("decision"),
        F.when(dec != 0.0, F.element_at(st, 3).cast("long")).alias(
            "decided_at_bucket"
        ),
    )


def effective_sample_size(
    df: DataFrame,
    key_col: str,
    order_col: str,
    value_col: str,
) -> DataFrame:
    """Autocorrelation-corrected effective sample size per key — the
    honesty adjustment the t-test family (``welch_t_test``) silently
    needs on TIME series: with lag-1 autocorrelation ``r1``,
    ``n_eff = n * (1 - r1) / (1 + r1)`` (AR(1) approximation), and the
    corrected standard error inflates accordingly — positive
    autocorrelation can cut the usable sample by 10x and turn a
    "significant" daily-mean shift into noise.

    Everything computes from IN-ROW sorted folds over the bounded
    per-key bucket series (the ``user_type_entropy`` discipline —
    grouped float sums are fold-order lottery; sorted in-row folds are
    not): mean, variance and the lag-1 cross sum fold left-to-right in
    the same order on any engine.  ``n_eff`` clamps to [1, n].
    """
    per_key, xs = _ordered_series(df, key_col, order_col, value_col)
    n = F.size(xs).cast("double")
    sx = F.aggregate(xs, F.lit(0.0), lambda a, x: a + x)
    mean = sx / n
    sdev = F.aggregate(
        xs, F.lit(0.0), lambda a, x: a + (x - mean) * (x - mean)
    )
    cross = F.aggregate(
        F.zip_with(
            F.slice(xs, 2, F.greatest(F.size(xs) - 1, F.lit(0))),
            F.slice(xs, 1, F.greatest(F.size(xs) - 1, F.lit(0))),
            lambda a, b: (a - mean) * (b - mean),
        ),
        F.lit(0.0),
        lambda a, x: a + x,
    )
    r1 = F.when(sdev > 0, cross / sdev)
    neff = F.when(
        r1.isNotNull(),
        F.least(
            n, F.greatest(F.lit(1.0), n * (1.0 - r1) / (1.0 + r1))
        ),
    ).otherwise(n)
    return per_key.filter(F.size("_pts") >= 3).select(
        "key",
        F.size("_pts").cast("long").alias("n"),
        F.round(mean, 6).alias("mean"),
        F.round(r1, 6).alias("lag1_autocorr"),
        F.round(neff, 6).alias("n_eff"),
        F.round(
            F.sqrt(sdev / (n - 1.0)) / F.sqrt(neff), 6
        ).alias("corrected_se"),
    )


def transaction_assemble(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    id_col: str,
    maxpause: float = 21600.0,
    maxspan: float = 86400.0,
) -> DataFrame:
    """Splunk `transaction` command semantics (maxpause + maxspan):
    group a key's time-ordered events into transactions, starting a new
    transaction when the gap from the previous event exceeds
    ``maxpause`` OR the span from the transaction's FIRST event would
    exceed ``maxspan``.  The span rule is what windows can't express —
    the boundary depends on the running transaction start, so the
    segmentation is inherently sequential per key (a recursive CTE in
    SQL engines).  Here it is an in-row fold over the key's sorted
    event list (bounded by per-entity event counts, the same
    precondition as session assembly), producing the txn id per event;
    a keyed aggregate then emits one row per transaction.

    Reference analog: Splunk's transaction command over HEC events —
    the collector ships events whose downstream grouping uses exactly
    these maxpause/maxspan semantics; session_window covers only the
    maxpause half.
    """
    per_key = df.groupBy(F.col(key_col).alias("key")).agg(
        F.sort_array(
            F.collect_list(
                F.struct(
                    F.col(ts_col).cast("timestamp_ltz").cast("double").alias("t"),
                    F.col(id_col).alias("i"),
                )
            )
        ).alias("_ev")
    )
    zero = F.struct(
        F.array().cast("array<bigint>").alias("ids"),
        F.lit(0.0).alias("prev"),
        F.lit(0.0).alias("start"),
        F.lit(0).cast("bigint").alias("k"),
    )

    def step(acc, e):
        fresh = (
            (acc["k"] == 0)
            | ((e["t"] - acc["prev"]) > F.lit(float(maxpause)))
            | ((e["t"] - acc["start"]) > F.lit(float(maxspan)))
        )
        k2 = F.when(fresh, acc["k"] + 1).otherwise(acc["k"])
        return F.struct(
            F.concat(acc["ids"], F.array(k2)).alias("ids"),
            e["t"].alias("prev"),
            F.when(fresh, e["t"]).otherwise(acc["start"]).alias("start"),
            k2.alias("k"),
        )

    assigned = per_key.select(
        "key",
        F.explode(
            F.arrays_zip(
                F.transform("_ev", lambda e: e["t"]).alias("t"),
                F.aggregate(F.col("_ev"), zero, step)["ids"].alias("txn"),
            )
        ).alias("z"),
    ).select("key", F.col("z.t").alias("t"), F.col("z.txn").alias("txn"))
    return assigned.groupBy("key", "txn").agg(
        F.count("*").cast("long").alias("eventcount"),
        F.round(F.min("t"), 6).alias("start_s"),
        F.round(F.max("t"), 6).alias("end_s"),
        F.round(F.max("t") - F.min("t"), 6).alias("duration_s"),
    )


def periodogram_peak(
    df: DataFrame,
    key_col: str,
    order_col: str,
    value_col: str,
    min_period: int = 2,
    max_period: int = 25,
) -> DataFrame:
    """Dominant-period detection per key: the discrete-Fourier power
    ``P(T) = (Σ x̄_t cos(2πt/T))² + (Σ x̄_t sin(2πt/T))²`` of the
    mean-centered bucket series at each candidate period T, and the
    argmax (ties → smallest T, deterministic because candidates fold
    in ascending order with a strict > test).  This is the
    seasonality-DETECTION complement to `acf_lags` (which tests given
    lags) — the collector's dashboards ask "what cycle does this
    metric have" before choosing a rollup window.

    The series folds IN-ROW over the sorted bucket list (one row per
    key, bounded by the bucket count, never raw events); missing
    buckets contribute no term (documented sparse-periodogram
    semantics — the mean is over PRESENT buckets).
    """
    tau = 6.283185307179586
    per_key = df.groupBy(F.col(key_col).alias("key")).agg(
        F.sort_array(
            F.collect_list(
                F.struct(
                    F.col(order_col).cast("long").alias("o"),
                    F.col(value_col).cast("double").alias("x"),
                )
            )
        ).alias("_pts")
    )
    per_key = per_key.filter(F.size("_pts") >= 8)
    n = F.size("_pts").cast("double")
    o0 = F.element_at("_pts", 1)["o"]
    # materialized as a COLUMN, not an inline F.aggregate expression:
    # referenced inside the per-period fold below, an inline aggregate
    # is re-evaluated at every element of every period's fold —
    # O(periods * n^2) (35 s at 720 buckets); as a column it's O(1)
    # per reference and the periodogram is O(periods * n).
    per_key = per_key.withColumn(
        "_mean",
        F.aggregate(F.col("_pts"), F.lit(0.0), lambda a, e: a + e["x"])
        / n,
    )
    mean = F.col("_mean")

    def power(p):
        cs = F.aggregate(
            F.col("_pts"),
            F.array(F.lit(0.0), F.lit(0.0)),
            lambda a, e: F.array(
                F.element_at(a, 1)
                + (e["x"] - mean)
                * F.cos(F.lit(tau) * (e["o"] - o0).cast("double") / p.cast("double")),
                F.element_at(a, 2)
                + (e["x"] - mean)
                * F.sin(F.lit(tau) * (e["o"] - o0).cast("double") / p.cast("double")),
            ),
        )
        c = F.element_at(cs, 1)
        s = F.element_at(cs, 2)
        return (c * c + s * s) / n

    powers = F.transform(
        F.sequence(F.lit(min_period), F.lit(max_period)),
        lambda p: F.array(p.cast("double"), power(p)),
    )
    # _best materialized too: it is referenced twice below, and each
    # reference would otherwise re-run all the per-period folds.
    per_key = per_key.withColumn(
        "_best",
        F.aggregate(
            powers,
            F.array(F.lit(0.0), F.lit(-1.0)),
            lambda a, e: F.when(
                F.element_at(e, 2) > F.element_at(a, 2), e
            ).otherwise(a),
        ),
    )
    return per_key.select(
        "key",
        F.size("_pts").cast("long").alias("n_buckets"),
        F.element_at("_best", 1).cast("long").alias("best_period"),
        F.round(F.element_at("_best", 2), 4).alias("best_power"),
    )


def nelson_rules(
    df: DataFrame,
    key_col: str,
    order_col: str,
    value_col: str,
    sigma_k: float = 3.0,
    run_side: int = 9,
    run_trend: int = 5,
) -> DataFrame:
    """Nelson rules 1-3 on a per-key control chart (the SPC
    out-of-control tests beyond the Shewhart limits `p_chart_error_rate`
    draws): rule 1 = a point beyond ``sigma_k``σ of the centerline;
    rule 2 = ``run_side`` consecutive points on the same side of the
    centerline; rule 3 = ``run_trend`` consecutive strictly
    monotone STEPS (six increasing points = five increasing steps).
    Emits per-key violation-point counts for each rule.

    Centerline and sample σ fold IN-ROW over the sorted bucket series
    (identical IEEE fold order on both engines — grouped float sums
    are fold-order lottery, in-row folds are not), then one sequential
    rule fold tracks the signed run lengths.  Bounded by the bucket
    count per key.
    """
    per_key, xs = _ordered_series(df, key_col, order_col, value_col)
    per_key = per_key.filter(F.size("_pts") >= 3)
    n = F.size(xs).cast("double")
    sx = F.aggregate(xs, F.lit(0.0), lambda a, x: a + x)
    # MATERIALIZE centerline/sigma as columns before the rule fold:
    # referencing an F.aggregate expression inside another fold's
    # lambda makes Catalyst inline the whole O(n) fold at every
    # reference of every step — O(n^2..3) expression evaluation that
    # turned a 720-bucket series into a 527 s query.  As plain column
    # references each use is O(1) and the whole thing is linear.
    per_key = per_key.withColumn("_cl", sx / n)
    cl = F.col("_cl")
    sdev = F.aggregate(xs, F.lit(0.0), lambda a, x: a + (x - cl) * (x - cl))
    per_key = per_key.withColumn("_sd", F.sqrt(sdev / (n - 1.0)))
    sd = F.col("_sd")

    # rule fold state: [side_run, trend_run, prev, r1, r2, r3, idx]
    zero = F.array(*[F.lit(0.0)] * 7)

    def step(acc, x):
        idx = F.element_at(acc, 7) + 1.0
        r1 = F.element_at(acc, 4) + F.when(
            F.abs(x - cl) > F.lit(float(sigma_k)) * sd, F.lit(1.0)
        ).otherwise(F.lit(0.0))
        side_prev = F.element_at(acc, 1)
        side_run = (
            F.when(x > cl, F.when(side_prev > 0, side_prev + 1.0).otherwise(F.lit(1.0)))
            .when(x < cl, F.when(side_prev < 0, side_prev - 1.0).otherwise(F.lit(-1.0)))
            .otherwise(F.lit(0.0))
        )
        r2 = F.element_at(acc, 5) + F.when(
            F.abs(side_run) >= F.lit(float(run_side)), F.lit(1.0)
        ).otherwise(F.lit(0.0))
        prev = F.element_at(acc, 3)
        trend_prev = F.element_at(acc, 2)
        trend_run = F.when(idx == 1.0, F.lit(0.0)).otherwise(
            F.when(x > prev, F.when(trend_prev > 0, trend_prev + 1.0).otherwise(F.lit(1.0)))
            .when(x < prev, F.when(trend_prev < 0, trend_prev - 1.0).otherwise(F.lit(-1.0)))
            .otherwise(F.lit(0.0))
        )
        r3 = F.element_at(acc, 6) + F.when(
            F.abs(trend_run) >= F.lit(float(run_trend)), F.lit(1.0)
        ).otherwise(F.lit(0.0))
        return F.array(side_run, trend_run, x, r1, r2, r3, idx)

    st = F.aggregate(xs, zero, step)
    return per_key.select(
        "key",
        F.size("_pts").cast("long").alias("n"),
        F.round(cl, 6).alias("centerline"),
        F.round(sd, 6).alias("sigma"),
        F.element_at(st, 4).cast("long").alias("rule1_points"),
        F.element_at(st, 5).cast("long").alias("rule2_points"),
        F.element_at(st, 6).cast("long").alias("rule3_points"),
    )


def chi_square_gof(
    df: DataFrame,
    key_col: str,
    cat_col: str,
    alpha_z: float = 1.6448536269514722,
) -> DataFrame:
    """Chi-square goodness-of-fit drift test per key: each key's
    observed category counts against expected counts from the GLOBAL
    category mix (the classic "did today's traffic mix drift from the
    corpus baseline" test beside the distance-flavored drift entries
    `psi_value_drift` / `js_divergence_drift` — this one carries a
    calibrated significance decision).  ``chi2 = Σ (O-E)²/E`` over the
    global category list (a key missing a category contributes the
    full E), df = k-1, and the 95% critical value comes from the
    Wilson-Hilferty cube approximation ``df·(1 - 2/(9df) + z·√(2/(9df)))³``
    (deterministic closed form — no stats-library dependency on either
    engine).

    Two keyed aggregates + one small cross join (the global mix is one
    row per category, bounded by category cardinality; AQE decides the
    broadcast).  The per-key chi2 folds IN-ROW over the category list
    sorted by category (identical IEEE fold order on both engines).
    """
    obs = df.groupBy(
        F.col(key_col).alias("key"), F.col(cat_col).alias("cat")
    ).agg(F.count("*").alias("o"))
    glob = obs.groupBy("cat").agg(F.sum("o").alias("gc"))
    tot = glob.agg(F.sum("gc").alias("gt"))
    mix = glob.crossJoin(tot).select(
        "cat", (F.col("gc").cast("double") / F.col("gt")).alias("gp")
    )
    keys = obs.groupBy("key").agg(F.sum("o").alias("n"))
    full = keys.crossJoin(mix).join(
        obs, ["key", "cat"], "left"
    ).select(
        "key",
        "n",
        "cat",
        F.coalesce(F.col("o"), F.lit(0)).cast("double").alias("o"),
        (F.col("gp") * F.col("n").cast("double")).alias("e"),
    )
    per_key = full.groupBy("key", "n").agg(
        F.sort_array(
            F.collect_list(
                F.struct(F.col("cat").alias("c"), F.col("o").alias("o"),
                         F.col("e").alias("e"))
            )
        ).alias("_cells")
    )
    chi2 = F.aggregate(
        F.col("_cells"),
        F.lit(0.0),
        lambda a, e: a + (e["o"] - e["e"]) * (e["o"] - e["e"]) / e["e"],
    )
    dof = (F.size("_cells") - 1).cast("double")
    wh = dof * F.pow(
        1.0 - 2.0 / (9.0 * dof)
        + F.lit(float(alpha_z)) * F.sqrt(2.0 / (9.0 * dof)),
        F.lit(3.0),
    )
    return per_key.select(
        "key",
        F.col("n").cast("long").alias("n"),
        F.size("_cells").cast("long").alias("k_cats"),
        F.round(chi2, 6).alias("chi2"),
        F.round(wh, 6).alias("crit95"),
        (chi2 > wh).alias("drifted"),
    )


def kruskal_wallis(
    df: DataFrame,
    key_col: str,
    group_col: str,
    value_col: str,
    alpha_z: float = 1.6448536269514722,
) -> DataFrame:
    """Kruskal-Wallis H test per key — the k-group generalisation of
    `mann_whitney_shift` (rank-based "did ANY group's distribution
    shift", no normality assumption): within each key, rank all values
    with midranks for ties, ``H = 12/(N(N+1)) · Σ R_g²/n_g − 3(N+1)``,
    tie-corrected by ``C = 1 − Σ(t³−t)/(N³−N)``, and a 95% decision
    against the Wilson-Hilferty chi-square critical value at k−1 df.

    Hash-stable by construction: midranks are means of consecutive
    integer row_numbers (exact half-integers), per-group rank sums add
    half-integers (exact in doubles far past any real group size), and
    the only float reduction — Σ R_g²/n_g — folds IN-ROW over the
    group-sorted summary list.  Two window passes + two keyed
    aggregates; never a global sort.
    """
    w_rn = Window.partitionBy("key").orderBy("v", "grp")
    w_tie = Window.partitionBy("key", "v")
    base = df.select(
        F.col(key_col).alias("key"),
        F.col(group_col).alias("grp"),
        F.col(value_col).cast("double").alias("v"),
    )
    ranked = base.withColumn("_rn", F.row_number().over(w_rn)).withColumn(
        "_ar", F.avg("_rn").over(w_tie)
    )
    per_grp = ranked.groupBy("key", "grp").agg(
        F.count("*").alias("ng"), F.sum("_ar").alias("rg")
    )
    ties = (
        base.groupBy("key", "v")
        .agg(F.count("*").alias("t"))
        .groupBy("key")
        .agg(
            F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t")).alias(
                "tsum"
            )
        )
    )
    per_key = per_grp.groupBy("key").agg(
        F.sum("ng").alias("n"),
        F.count("*").alias("k"),
        F.sort_array(
            F.collect_list(
                F.struct(
                    F.col("grp").alias("g"),
                    F.col("ng").cast("double").alias("ng"),
                    F.col("rg").alias("rg"),
                )
            )
        ).alias("_gs"),
    ).join(ties, "key")
    n = F.col("n").cast("double")
    s = F.aggregate(
        F.col("_gs"), F.lit(0.0), lambda a, e: a + e["rg"] * e["rg"] / e["ng"]
    )
    h = 12.0 / (n * (n + 1.0)) * s - 3.0 * (n + 1.0)
    c = 1.0 - F.col("tsum").cast("double") / (n * n * n - n)
    hc = F.when(c > 0.0, h / c)
    dof = (F.col("k") - 1).cast("double")
    wh = dof * F.pow(
        1.0 - 2.0 / (9.0 * dof)
        + F.lit(float(alpha_z)) * F.sqrt(2.0 / (9.0 * dof)),
        F.lit(3.0),
    )
    return per_key.filter(F.col("k") >= 2).select(
        "key",
        F.col("n").cast("long").alias("n"),
        F.col("k").cast("long").alias("k_groups"),
        F.round(h, 6).alias("h"),
        F.round(hc, 6).alias("h_corrected"),
        F.round(wh, 6).alias("crit95"),
        (F.coalesce(hc, h) > wh).alias("significant"),
    )


def ks_two_sample(
    df: DataFrame,
    key_col: str,
    flag_col: str,
    value_col: str,
    crit_c: float = 1.3581015157406195,
) -> DataFrame:
    """Exact two-sample Kolmogorov-Smirnov D per key — the
    distribution-equality test beside `mann_whitney_shift` (location)
    and `wasserstein_drift` (magnitude): ``D = max_v |F_a(v) − F_b(v)|``
    with both ECDFs evaluated AFTER each distinct value (tie-correct by
    construction), and the large-sample 5% decision
    ``D > c(α)·√((n_a+n_b)/(n_a·n_b))`` with c(0.05)=√(−ln(0.025)/2)
    pinned.

    Hash-stable: every ECDF step is a ratio of exact integer counts;
    the max over steps is order-independent.  One shuffle on the key;
    the per-key window sort is the unavoidable cost of an exact ECDF
    (at 10^12 rows, the binned-histogram KS is the documented
    approximation path).

    Reference analog: drift checks the collector's receivers leave to
    the backend; same role as `qq_shift` but with a decision rule.
    """
    base = df.select(
        F.col(key_col).alias("key"),
        F.col(flag_col).cast("boolean").alias("is_a"),
        F.col(value_col).cast("double").alias("v"),
    )
    pv = base.groupBy("key", "v").agg(
        F.sum(F.when(F.col("is_a"), 1).otherwise(0)).alias("da"),
        F.sum(F.when(~F.col("is_a"), 1).otherwise(0)).alias("db"),
    )
    w_cum = (
        Window.partitionBy("key")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy("key")
    stepped = pv.select(
        "key",
        F.sum("da").over(w_cum).alias("ca"),
        F.sum("db").over(w_cum).alias("cb"),
        F.sum("da").over(w_all).alias("na"),
        F.sum("db").over(w_all).alias("nb"),
    )
    gap = F.abs(
        F.col("ca") / F.col("na") - F.col("cb") / F.col("nb")
    )
    out = stepped.groupBy("key").agg(
        F.first("na").alias("n_a"),
        F.first("nb").alias("n_b"),
        F.max(gap).alias("d"),
    )
    na, nb = F.col("n_a").cast("double"), F.col("n_b").cast("double")
    crit = F.lit(float(crit_c)) * F.sqrt((na + nb) / (na * nb))
    return out.filter((F.col("n_a") > 0) & (F.col("n_b") > 0)).select(
        "key",
        "n_a",
        "n_b",
        F.round("d", 6).alias("d"),
        F.round(crit, 6).alias("crit95"),
        (F.col("d") > crit).alias("significant"),
    )


def mann_kendall_trend(
    df: DataFrame,
    key_col: str,
    bucket_col: str,
    value_col: str,
    z_crit: float = 1.959963984540054,
) -> DataFrame:
    """Mann-Kendall monotonic-trend test per key over an ordered
    bucket series — the nonparametric "is this metric drifting up"
    beside `theil_sen` (which estimates the slope this test decides
    on): ``S = Σ_{i<j} sign(v_j − v_i)``, tie-corrected variance
    ``Var = [n(n−1)(2n+5) − Σ t(t−1)(2t+5)]/18``, continuity-corrected
    ``z = (S∓1)/√Var``.

    The series per key is a bounded bucket grid (days × key), so the
    O(n²) pair scan folds IN-ROW over the collected bucket-sorted
    array via nested higher-order aggregates — no self-join, one
    shuffle on the key.  Values compare as longs (sign is exact); the
    only doubles are the final z ratio.
    """
    base = df.select(
        F.col(key_col).alias("key"),
        F.col(bucket_col).alias("b"),
        F.col(value_col).cast("long").alias("v"),
    )
    ties = (
        base.groupBy("key", "v")
        .agg(F.count("*").alias("t"))
        .groupBy("key")
        .agg(
            F.sum(
                F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)
            ).alias("tsum")
        )
    )
    per_key = base.groupBy("key").agg(
        F.count("*").alias("n"),
        F.transform(
            F.sort_array(
                F.collect_list(F.struct(F.col("b"), F.col("v")))
            ),
            lambda e: e["v"],
        ).alias("vs"),
    )
    vs = F.col("vs")
    s = F.aggregate(
        F.sequence(F.lit(2), F.col("n").cast("int")),
        F.lit(0).cast("long"),
        lambda acc, j: acc
        + F.aggregate(
            F.slice(vs, 1, j - 1),
            F.lit(0).cast("long"),
            lambda a, vi: a
            + F.signum(
                (F.element_at(vs, j) - vi).cast("double")
            ).cast("long"),
        ),
    )
    scored = per_key.filter(F.col("n") >= 2).join(ties, "key").select(
        "key",
        "n",
        s.alias("s"),
        (
            (
                F.col("n").cast("double")
                * (F.col("n") - 1)
                * (2 * F.col("n") + 5)
                - F.col("tsum")
            )
            / 18.0
        ).alias("var_s"),
    )
    sgn = F.col("s").cast("double")
    z = F.when(F.col("var_s") <= 0.0, F.lit(0.0)).otherwise(
        F.when(F.col("s") > 0, (sgn - 1.0) / F.sqrt("var_s"))
        .when(F.col("s") < 0, (sgn + 1.0) / F.sqrt("var_s"))
        .otherwise(F.lit(0.0))
    )
    return scored.select(
        "key",
        "n",
        "s",
        F.round("var_s", 6).alias("var_s"),
        F.round(z, 6).alias("z"),
        F.when(z > z_crit, F.lit("increasing"))
        .when(z < -z_crit, F.lit("decreasing"))
        .otherwise(F.lit("no trend"))
        .alias("trend"),
    )


def friedman_test(
    df: DataFrame,
    key_col: str,
    block_col: str,
    treatment_col: str,
    value_col: str,
    alpha_z: float = 1.6448536269514722,
) -> DataFrame:
    """Friedman rank test per key — the repeated-measures counterpart
    of `kruskal_wallis` (blocks remove the between-block variation a
    plain k-group rank test absorbs): within each complete block, rank
    the k treatments with midranks; the tie-general statistic is
    ``Q = (k−1)·Σ_j (R_j − n(k+1)/2)² / (A − C)`` with
    ``A = Σ r², C = nk(k+1)²/4`` (reduces to the classic
    12/(nk(k+1))·ΣR² − 3n(k+1) when untied), decided against the
    Wilson-Hilferty chi-square 95% critical value at k−1 df.

    Incomplete blocks (a treatment missing) are dropped — Friedman
    requires complete blocks; the drop is observable via n_blocks.
    Hash-stable: midranks are half-integers, so every sum (R_j, A) is
    exact in doubles regardless of fold order; the Σ over treatments
    folds in-row over the treatment-sorted list.  Two window passes +
    keyed aggregates; never a global sort.
    """
    base = df.select(
        F.col(key_col).alias("key"),
        F.col(block_col).alias("blk"),
        F.col(treatment_col).alias("trt"),
        F.col(value_col).cast("double").alias("v"),
    )
    k_per_key = base.groupBy("key").agg(
        F.count_distinct("trt").alias("k")
    )
    complete = (
        base.groupBy("key", "blk")
        .agg(F.count_distinct("trt").alias("_kb"))
        .join(k_per_key, "key")
        .filter(F.col("_kb") == F.col("k"))
        .select("key", "blk")
    )
    kept = base.join(complete, ["key", "blk"])
    w_rn = Window.partitionBy("key", "blk").orderBy("v", "trt")
    w_tie = Window.partitionBy("key", "blk", "v")
    ranked = kept.withColumn("_rn", F.row_number().over(w_rn)).withColumn(
        "_r", F.avg("_rn").over(w_tie)
    )
    per_trt = ranked.groupBy("key", "trt").agg(
        F.sum("_r").alias("rj"), F.count("*").alias("nb")
    )
    a_sum = ranked.groupBy("key").agg(
        F.sum(F.col("_r") * F.col("_r")).alias("a")
    )
    per_key = (
        per_trt.groupBy("key")
        .agg(
            F.count("*").alias("k"),
            F.max("nb").alias("n"),
            F.sort_array(
                F.collect_list(
                    F.struct(F.col("trt"), F.col("rj").alias("rj"))
                )
            ).alias("_rs"),
        )
        .join(a_sum, "key")
    )
    n = F.col("n").cast("double")
    k = F.col("k").cast("double")
    mean_r = n * (k + 1.0) / 2.0
    num = F.aggregate(
        F.col("_rs"),
        F.lit(0.0),
        lambda acc, e: acc + (e["rj"] - mean_r) * (e["rj"] - mean_r),
    )
    c = n * k * (k + 1.0) * (k + 1.0) / 4.0
    denom = F.col("a") - c
    q = F.when(denom > 0.0, (k - 1.0) * num / denom)
    dof = k - 1.0
    wh = dof * F.pow(
        1.0 - 2.0 / (9.0 * dof)
        + F.lit(float(alpha_z)) * F.sqrt(2.0 / (9.0 * dof)),
        F.lit(3.0),
    )
    return per_key.filter(F.col("k") >= 2).select(
        "key",
        F.col("n").cast("long").alias("n_blocks"),
        F.col("k").cast("long").alias("k_treatments"),
        F.round(q, 6).alias("q"),
        F.round(wh, 6).alias("crit95"),
        F.coalesce(q > wh, F.lit(False)).alias("significant"),
    )


def hurst_rs(
    df: DataFrame,
    key_col: str,
    bucket_col: str,
    value_col: str,
    block_sizes: tuple[int, ...] = (8, 16, 32, 64),
) -> DataFrame:
    """Hurst exponent via rescaled-range (R/S) analysis per key — the
    long-range-dependence number for ops series (H≈0.5 random walk,
    H→1 persistent/trending, H→0.5- mean-reverting): split the
    bucket-ordered series into complete blocks of each size m, per
    block compute the range R of cumulative mean-deviations and the
    (population) std S, average R/S per m, and fit
    ``log2(R/S) = H·log2(m) + c`` by least squares over the pinned m
    grid (slope weights are exact literals, so the fit is a fixed
    dot product, not an iterative solver).

    Bit-exact by design: with integer-valued series, R's numerator
    ``max_j(m·cum_j − j·S1) − min_j(...)`` and S's radicand
    ``m·S2 − S1²`` are INTEGER arithmetic (the only floats are one
    division and one sqrt per block, then a decimal-quantized block
    mean) — no fold-order sensitivity anywhere.  Zero-variance blocks
    are skipped (R=S=0).  One row_number window per key, one keyed
    aggregate per (key, m, block); the ×|block_sizes| explode is
    map-side.
    """
    base = df.select(
        F.col(key_col).alias("key"),
        F.col(bucket_col).alias("b"),
        F.col(value_col).cast("long").alias("v"),
    )
    w_i = Window.partitionBy("key").orderBy("b")
    idx = base.withColumn("i", F.row_number().over(w_i))
    tot = idx.groupBy("key").agg(F.count("*").alias("n"))
    lv = idx.withColumn(
        "m", F.explode(F.array(*[F.lit(m) for m in block_sizes]))
    ).withColumn("blk", F.floor((F.col("i") - 1) / F.col("m")))
    blocks = lv.groupBy("key", "m", "blk").agg(
        F.count("*").alias("cnt"),
        F.sort_array(
            F.collect_list(F.struct(F.col("i"), F.col("v")))
        ).alias("vs"),
    ).filter(F.col("cnt") == F.col("m"))
    zl = F.lit(0).cast("long")
    with_sums = blocks.select(
        "key",
        "m",
        "vs",
        F.aggregate(
            "vs", zl, lambda a, e: a + e["v"]
        ).alias("s1"),
        F.aggregate(
            "vs", zl, lambda a, e: a + e["v"] * e["v"]
        ).alias("s2"),
    )
    big = F.lit(1 << 62).cast("long")
    scan = F.aggregate(
        F.col("vs"),
        F.struct(
            zl.alias("j"), zl.alias("cum"),
            (-big).alias("mx"), big.alias("mn"),
        ),
        lambda a, e: F.struct(
            (a["j"] + 1).alias("j"),
            (a["cum"] + e["v"]).alias("cum"),
            F.greatest(
                a["mx"],
                F.col("m") * (a["cum"] + e["v"])
                - (a["j"] + 1) * F.col("s1"),
            ).alias("mx"),
            F.least(
                a["mn"],
                F.col("m") * (a["cum"] + e["v"])
                - (a["j"] + 1) * F.col("s1"),
            ).alias("mn"),
        ),
    )
    per_block = with_sums.select(
        "key",
        "m",
        scan.alias("sc"),
        (F.col("m") * F.col("s2") - F.col("s1") * F.col("s1")).alias("ii"),
    ).select(
        "key",
        "m",
        (F.col("sc")["mx"] - F.col("sc")["mn"]).alias("rnum"),
        "ii",
    ).filter(F.col("ii") > 0)
    rs = (F.col("rnum").cast("double") / F.sqrt(F.col("ii").cast("double")))
    lvl = per_block.groupBy("key", "m").agg(
        (
            F.sum(F.round(rs, 8).cast("decimal(20,8)")).cast("double")
            / F.count("*")
        ).alias("avg_rs")
    )
    piv = lvl.groupBy("key").agg(
        *[
            F.max(
                F.when(F.col("m") == m, F.col("avg_rs"))
            ).alias(f"rs{m}")
        for m in block_sizes
        ]
    )
    xs = [float(__import__("math").log2(m)) for m in block_sizes]
    xbar = sum(xs) / len(xs)
    sxx = sum((x - xbar) ** 2 for x in xs)
    h = None
    for m, x in zip(block_sizes, xs):
        term = F.lit((x - xbar) / sxx) * F.log2(F.col(f"rs{m}"))
        h = term if h is None else h + term
    cond = None
    for m in block_sizes:
        c = F.col(f"rs{m}").isNotNull()
        cond = c if cond is None else cond & c
    return piv.filter(cond).join(tot, "key").select(
        "key",
        "n",
        *[F.round(f"rs{m}", 6).alias(f"rs{m}") for m in block_sizes],
        F.round(h, 6).alias("hurst"),
    )


def permutation_entropy(
    df: DataFrame,
    key_col: str,
    bucket_col: str,
    value_col: str,
) -> DataFrame:
    """Order-3 permutation entropy (Bandt & Pompe 2002) per key — the
    complexity score that separates regular / periodic series (low)
    from noise (≈1) WITHOUT any model fit; the standard complement to
    `acf_seasonality` for "is this metric even forecastable".

    Each length-3 embedding window maps to one of 3! ordinal patterns;
    ties break by time index (earlier = smaller, the B&P convention),
    so integer series exercise a deterministic path.  PE = −Σ p·log2 p
    normalized by log2(6) into [0,1].  The ≤6 entropy terms are
    decimal-quantized before the sum, so the reduction is exact on any
    engine.  One lead-window pass + one keyed count; never a sort
    beyond the per-key bucket order.
    """
    base = df.select(
        F.col(key_col).alias("key"),
        F.col(bucket_col).alias("b"),
        F.col(value_col).cast("double").alias("v"),
    )
    w = Window.partitionBy("key").orderBy("b")
    t = base.select(
        "key",
        F.col("v").alias("v1"),
        F.lead("v", 1).over(w).alias("v2"),
        F.lead("v", 2).over(w).alias("v3"),
    ).filter(F.col("v3").isNotNull())

    def gt(a, ia, b, ib):
        return (
            (F.col(a) > F.col(b))
            | ((F.col(a) == F.col(b)) & F.lit(ia > ib))
        ).cast("int")

    r1 = gt("v1", 1, "v2", 2) + gt("v1", 1, "v3", 3)
    r2 = gt("v2", 2, "v1", 1) + gt("v2", 2, "v3", 3)
    r3 = gt("v3", 3, "v1", 1) + gt("v3", 3, "v2", 2)
    pat = (r1 * 100 + r2 * 10 + r3).alias("pattern")
    counts = t.select("key", pat).groupBy("key", "pattern").agg(
        F.count("*").alias("c")
    )
    w_k = Window.partitionBy("key")
    p = F.col("c").cast("double") / F.sum("c").over(w_k).cast("double")
    terms = counts.select(
        "key",
        F.col("c"),
        F.round(-p * F.log2(p), 10).cast("decimal(22,10)").alias("term"),
    )
    log2_6 = 2.584962500721156
    return terms.groupBy("key").agg(
        F.sum("c").alias("n_windows"),
        F.round(
            F.sum("term").cast("double") / F.lit(log2_6), 6
        ).alias("pe"),
    )


def brown_forsythe(
    df: DataFrame,
    key_col: str,
    group_col: str,
    value_col: str,
) -> DataFrame:
    """Brown-Forsythe variance-homogeneity statistic per key — "did
    the SPREAD change across groups" where `welch_t_test`/ANOVA ask
    about the mean: one-way ANOVA F on ``z = |x − median_group|``
    (median, not mean — the robust variant that keeps its size under
    heavy tails).  Emits the statistic and both dfs; the caller brings
    the F table (no closed-form quantile worth pinning here —
    documented, same stance as the reference's alert thresholds being
    config).

    The group median is the exact mid-rank average (1 or 2 values —
    no interpolated percentile, so both engines agree bit-for-bit),
    computed with a window avg over the mid-rank rows — no join back.
    Z power sums then follow the `seasonality_strength` formulation
    (raw n/Σz/Σz² cross the exchange; SSB = Σs²/n − S²/N).
    """
    base = df.select(
        F.col(key_col).alias("key"),
        F.col(group_col).alias("grp"),
        F.col(value_col).cast("double").alias("v"),
    ).filter(F.col("v").isNotNull())
    w_rn = Window.partitionBy("key", "grp").orderBy("v")
    w_g = Window.partitionBy("key", "grp")
    cnt = F.count("*").over(w_g)
    rn = F.row_number().over(w_rn)
    lo = F.floor((cnt + 1) / 2)
    hi = F.ceil((cnt + 1) / 2)
    mid_v = F.when((rn == lo) | (rn == hi), F.col("v"))
    med = F.avg(mid_v).over(w_g)
    z = F.abs(F.col("v") - med)
    per_g = base.select("key", "grp", z.alias("z")).groupBy(
        "key", "grp"
    ).agg(
        F.count("*").alias("n"),
        F.sum("z").alias("s"),
        F.sum(F.col("z") * F.col("z")).alias("q"),
    )
    agg = per_g.groupBy("key").agg(
        F.sum("n").alias("nn"),
        F.sum("s").alias("ss"),
        F.sum("q").alias("qq"),
        F.count("*").alias("k"),
        F.sum(F.col("s") * F.col("s") / F.col("n")).alias("sb"),
    )
    cf = F.col("ss") * F.col("ss") / F.col("nn")
    ss_b = F.col("sb") - cf
    ss_w = F.col("qq") - F.col("sb")
    fstat = (ss_b / (F.col("k") - 1)) / (ss_w / (F.col("nn") - F.col("k")))
    return agg.filter(
        (F.col("k") >= 2) & (F.col("nn") > F.col("k"))
    ).select(
        "key",
        F.col("nn").cast("long").alias("n"),
        F.col("k").cast("long").alias("k_groups"),
        (F.col("k") - 1).cast("long").alias("df1"),
        (F.col("nn") - F.col("k")).cast("long").alias("df2"),
        F.round(F.when(ss_w > 0, fstat), 4).alias("bf_f"),
    )


def markov_entropy_rate(
    df: DataFrame,
    key_col: str,
    seq_col: str,
    order_cols: list[str],
    state_col: str,
) -> DataFrame:
    """First-order Markov entropy rate of a state sequence, per key —
    the behavioral-complexity number for event streams ("how
    predictable is the next event given the current one"):
    transitions from consecutive states per sequence (ordered by the
    caller's total order), per-state conditional entropies
    ``H_i = −Σ_j p_ij log2 p_ij``, and the rate
    ``Σ_i π_i H_i`` under the empirical state distribution π.

    Both reductions run over the bounded state alphabet with
    decimal-quantized terms, so the float folds are exact on any
    engine.  One lead-window pass per sequence + two keyed counts;
    state-pair cardinality (|S|²·keys) bounds everything downstream.
    """
    w = Window.partitionBy("key", "seq").orderBy(
        *[F.col(c) for c in order_cols]
    )
    base = df.select(
        F.col(key_col).alias("key"),
        F.col(seq_col).alias("seq"),
        F.col(state_col).alias("s"),
        *[F.col(c) for c in order_cols],
    )
    trans = base.select(
        "key",
        F.col("s").alias("frm"),
        F.lead("s", 1).over(w).alias("to"),
    ).filter(F.col("to").isNotNull())
    pair = trans.groupBy("key", "frm", "to").agg(F.count("*").alias("c"))
    w_f = Window.partitionBy("key", "frm")
    p = F.col("c").cast("double") / F.sum("c").over(w_f).cast("double")
    hterms = pair.select(
        "key",
        "frm",
        F.col("c"),
        F.round(-p * F.log2(p), 10).cast("decimal(22,10)").alias("t"),
    )
    per_state = hterms.groupBy("key", "frm").agg(
        F.sum("c").alias("ni"), F.sum("t").cast("double").alias("hi")
    )
    w_k = Window.partitionBy("key")
    pi = F.col("ni").cast("double") / F.sum("ni").over(w_k).cast("double")
    rate_terms = per_state.select(
        "key",
        F.col("ni"),
        F.round(pi * F.col("hi"), 10).cast("decimal(22,10)").alias("rt"),
    )
    return rate_terms.groupBy("key").agg(
        F.sum("ni").alias("n_transitions"),
        F.count("*").alias("n_states"),
        F.round(F.sum("rt").cast("double"), 6).alias("entropy_rate"),
    )


def jarque_bera(
    df: DataFrame,
    key_col: str,
    value_col: str,
    crit95: float = 5.991464547107979,
) -> DataFrame:
    """Jarque-Bera normality test per key — the decision rule on top
    of `moments_profile`'s shape numbers (is this latency/value column
    Gaussian enough for the z-score alerts downstream?):
    ``JB = n/6·(S² + K²/4)`` from skewness S and excess kurtosis K,
    against the pinned chi-square(2) 95% critical value.

    Central moments come from RAW POWER SUMS (Σx..Σx⁴) in the one
    expression order both engines render identically (the
    moments_profile discipline); one map-side-combined aggregate is
    the whole plan.
    """
    v = F.col(value_col).cast("double")
    agg = df.filter(v.isNotNull()).groupBy(key_col).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(v).alias("s1"),
        F.sum(v * v).alias("s2"),
        F.sum(v * v * v).alias("s3"),
        F.sum(v * v * v * v).alias("s4"),
    )
    n = F.col("n").cast("double")
    mean = F.col("s1") / n
    m2 = F.col("s2") / n - mean * mean
    m3 = (
        F.col("s3") / n
        - 3.0 * mean * (F.col("s2") / n)
        + 2.0 * mean * mean * mean
    )
    m4 = (
        F.col("s4") / n
        - 4.0 * mean * (F.col("s3") / n)
        + 6.0 * mean * mean * (F.col("s2") / n)
        - 3.0 * mean * mean * mean * mean
    )
    s = m3 / F.pow(m2, 1.5)
    k = m4 / (m2 * m2) - 3.0
    jb = n / 6.0 * (s * s + k * k / 4.0)
    return agg.filter((F.col("n") >= 8) & (m2 > 0)).select(
        key_col,
        F.col("n").cast("long").alias("n"),
        F.round(s, 6).alias("skew"),
        F.round(k, 6).alias("ex_kurt"),
        F.round(jb, 4).alias("jb"),
        (jb > F.lit(float(crit95))).alias("significant"),
    )


def pettitt_test(
    df: DataFrame,
    key_col: str,
    bucket_col: str,
    value_col: str,
) -> DataFrame:
    """Pettitt change-point test per key (rank-based, distribution-
    free): ``U_t = Σ_{i≤t, j>t} sign(x_j − x_i)``; the change point is
    the t maximizing |U_t| with approximate significance
    ``p ≈ 2·exp(−6K²/(n³+n²))`` — the standard single-breakpoint
    companion to `page_hinkley`'s streaming drift alarm.

    Never the O(n²) pair scan: with midranks r_i over the whole
    series, ``U_t = 2·Σ_{i≤t} r_i − t(n+1)`` exactly (ties included),
    so the statistic is one rank window + one ordered cumsum —
    integer-valued throughout.  First argmax bucket wins (pinned
    tie-break).  The ORACLE computes U_t from the definition via a
    pair self-join — a genuinely different algorithm.
    """
    base = df.select(
        F.col(key_col).alias("key"),
        F.col(bucket_col).alias("b"),
        F.col(value_col).cast("double").alias("v"),
    )
    w_rn = Window.partitionBy("key").orderBy("v", "b")
    w_tie = Window.partitionBy("key", "v")
    w_ord = (
        Window.partitionBy("key")
        .orderBy("b")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy("key")
    ranked = base.withColumn("_rn", F.row_number().over(w_rn)).withColumn(
        "_r", F.avg("_rn").over(w_tie)
    )
    stepped = ranked.select(
        "key",
        "b",
        F.sum("_r").over(w_ord).alias("cum"),
        F.count("*").over(w_all).alias("n"),
        F.row_number().over(Window.partitionBy("key").orderBy("b")).alias(
            "t"
        ),
    )
    u = 2.0 * F.col("cum") - F.col("t").cast("double") * (F.col("n") + 1)
    per_t = stepped.filter(F.col("t") < F.col("n")).select(
        "key", "b", "n", F.abs(u).alias("au")
    )
    w_pick = Window.partitionBy("key").orderBy(
        F.col("au").desc(), F.col("b").asc()
    )
    best = per_t.withColumn("_p", F.row_number().over(w_pick)).filter(
        F.col("_p") == 1
    )
    n = F.col("n").cast("double")
    p = F.least(
        F.lit(1.0),
        2.0 * F.exp(-6.0 * F.col("au") * F.col("au") / (n * n * n + n * n)),
    )
    return best.select(
        "key",
        F.col("n").cast("long").alias("n"),
        F.col("au").cast("long").alias("k_stat"),
        F.col("b").alias("change_bucket"),
        F.round(p, 6).alias("p_approx"),
        (p < 0.05).alias("significant"),
    )


def dunn_posthoc(
    df: DataFrame,
    key_col: str,
    group_col: str,
    value_col: str,
    z_crit: float = 2.807033768343811,
) -> DataFrame:
    """Dunn's post-hoc pairwise rank comparison per key — WHICH groups
    differ once `kruskal_wallis` says some do:
    ``z_ij = (R̄_i − R̄_j)/√(σ²·(1/n_i + 1/n_j))`` with the tie-corrected
    ``σ² = N(N+1)/12 − Σ(t³−t)/(12(N−1))``; the default critical value
    is the Bonferroni z for 10 comparisons at α=0.05 (5 groups —
    pass your own for other k; no runtime normal quantile, same
    pinned-constant stance as the other tests).

    Midranks make every rank sum exact; the pair join runs on the
    per-GROUP summary table (|groups|² per key, never rows²).
    Emits g1 < g2 pairs only.
    """
    base = df.select(
        F.col(key_col).alias("key"),
        F.col(group_col).alias("grp"),
        F.col(value_col).cast("double").alias("v"),
    )
    w_rn = Window.partitionBy("key").orderBy("v", "grp")
    w_tie = Window.partitionBy("key", "v")
    ranked = base.withColumn("_rn", F.row_number().over(w_rn)).withColumn(
        "_r", F.avg("_rn").over(w_tie)
    )
    per_g = ranked.groupBy("key", "grp").agg(
        F.count("*").alias("ng"), F.sum("_r").alias("rg")
    )
    ties = (
        base.groupBy("key", "v")
        .agg(F.count("*").alias("t"))
        .groupBy("key")
        .agg(
            F.sum(
                F.col("t") * F.col("t") * F.col("t") - F.col("t")
            ).alias("tsum")
        )
    )
    tot = per_g.groupBy("key").agg(F.sum("ng").alias("nn")).join(ties, "key")
    a = per_g.select(
        "key",
        F.col("grp").alias("g1"),
        F.col("ng").alias("n1"),
        F.col("rg").alias("r1"),
    )
    b = per_g.select(
        "key",
        F.col("grp").alias("g2"),
        F.col("ng").alias("n2"),
        F.col("rg").alias("r2"),
    )
    pairs = a.join(b, "key").filter(F.col("g1") < F.col("g2")).join(
        tot, "key"
    )
    nn = F.col("nn").cast("double")
    sigma2 = nn * (nn + 1.0) / 12.0 - F.col("tsum").cast("double") / (
        12.0 * (nn - 1.0)
    )
    mr1 = F.col("r1") / F.col("n1").cast("double")
    mr2 = F.col("r2") / F.col("n2").cast("double")
    z = (mr1 - mr2) / F.sqrt(
        sigma2 * (1.0 / F.col("n1") + 1.0 / F.col("n2"))
    )
    return pairs.filter(F.col("nn") > 1).select(
        "key",
        "g1",
        "g2",
        F.col("n1").cast("long").alias("n1"),
        F.col("n2").cast("long").alias("n2"),
        F.round(mr1, 6).alias("mean_rank_1"),
        F.round(mr2, 6).alias("mean_rank_2"),
        F.round(z, 6).alias("z"),
        (F.abs(z) > F.lit(float(z_crit))).alias("significant"),
    )


def _win_median(partition_cols: list[str], value: Column) -> Column:
    """Exact mid-rank median of `value` over a window partition —
    avg of the 1-2 middle-ranked values, never an interpolated
    percentile (both engines agree bit-for-bit on ≤2-value avgs)."""
    w_rn = Window.partitionBy(*partition_cols).orderBy(value)
    w_all = Window.partitionBy(*partition_cols)
    cnt = F.count("*").over(w_all)
    rn = F.row_number().over(w_rn)
    lo = F.floor((cnt + 1) / 2)
    hi = F.ceil((cnt + 1) / 2)
    return F.avg(F.when((rn == lo) | (rn == hi), value)).over(w_all)


def median_polish(
    df: DataFrame,
    key_col: str,
    row_col: str,
    col_col: str,
    value_col: str,
    mad_k: float = 3.0,
) -> DataFrame:
    """Single-sweep Tukey median polish of a two-way grid per key
    (classically dow × hour-of-day) — the robust additive
    decomposition ``v ≈ row_effect + col_effect + residual`` that
    localizes WHICH (day, hour) cell is anomalous after removing both
    margins, where a plain z-score flags every cell of a busy day.
    Residuals are flagged against the scaled-MAD fence
    ``|r − median(r)| > k·1.4826·MAD`` (pinned consistency constant).

    One sweep (row medians, then column medians of the residuals) is
    the documented scope — the full iterate-to-convergence polish is
    a driver loop the grid sizes here never need.  Every median is an
    exact mid-rank average; subtraction chains are deterministic
    doubles.  Three window passes over (key, row) / (key, col) /
    (key); grid cardinality bounds everything.
    """
    base = df.select(
        F.col(key_col).alias("key"),
        F.col(row_col).alias("r"),
        F.col(col_col).alias("c"),
        F.col(value_col).cast("double").alias("v"),
    )
    step1 = base.withColumn(
        "row_eff", _win_median(["key", "r"], F.col("v"))
    ).withColumn("v1", F.col("v") - F.col("row_eff"))
    step2 = step1.withColumn(
        "col_eff", _win_median(["key", "c"], F.col("v1"))
    ).withColumn("resid", F.col("v1") - F.col("col_eff"))
    step3 = step2.withColumn(
        "med_r", _win_median(["key"], F.col("resid"))
    ).withColumn(
        "mad",
        _win_median(["key"], F.abs(F.col("resid") - F.col("med_r"))),
    )
    fence = F.lit(float(mad_k)) * 1.4826 * F.col("mad")
    return step3.select(
        "key",
        "r",
        "c",
        F.round("v", 6).alias("v"),
        F.round("row_eff", 6).alias("row_eff"),
        F.round("col_eff", 6).alias("col_eff"),
        F.round("resid", 6).alias("resid"),
        F.when(
            F.col("mad") > 0,
            F.abs(F.col("resid") - F.col("med_r")) > fence,
        ).otherwise(F.col("resid") != F.col("med_r")).alias("outlier"),
    )


def ols_trend(
    df: DataFrame,
    key_col: str,
    x_col: str,
    y_col: str,
) -> DataFrame:
    """OLS linear trend per key from INTEGER power sums — slope,
    intercept, R² for "is this metric drifting and how fast" (the
    parametric companion of `theil_sen`; that one survives outliers,
    this one gives R² and extrapolates): with integer x (epoch days)
    and y (counts), n/Σx/Σy/Σxy/Σx²/Σy² are all EXACT longs, so both
    engines compute identical numerators before the only float
    divisions.  Squares that could overflow int64 (the R² numerator)
    are taken AFTER the exact long difference is cast to double.

    One map-side-combined aggregate; nothing else.
    """
    base = df.select(
        F.col(key_col).alias("key"),
        F.col(x_col).cast("long").alias("x"),
        F.col(y_col).cast("long").alias("y"),
    )
    agg = base.groupBy("key").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
        "double"
    )
    denx = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
        "double"
    )
    deny = (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast(
        "double"
    )
    slope = num / denx
    intercept = (
        F.col("sy").cast("double") - slope * F.col("sx").cast("double")
    ) / F.col("n").cast("double")
    r2 = F.when(deny > 0, num * num / (denx * deny)).otherwise(F.lit(None))
    return agg.filter((F.col("n") >= 2) & (denx > 0)).select(
        "key",
        F.col("n").cast("long").alias("n"),
        F.round(slope, 6).alias("slope"),
        F.round(intercept, 6).alias("intercept"),
        F.round(r2, 6).alias("r2"),
    )


def circuit_breaker_replay(
    df: DataFrame,
    key_col: str,
    order_cols: list[str],
    fail_col: str,
    fail_threshold: int = 3,
    cooldown: int = 5,
) -> DataFrame:
    """Circuit-breaker state-machine replay per service — what a
    deployed breaker WOULD have done over the observed call outcomes
    (the offline twin of a client-side resilience policy, same stance
    as `token_bucket_audit` for throttles): closed → open after
    ``fail_threshold`` consecutive failures; open rejects the next
    ``cooldown`` calls, then half-open; half-open closes on a success
    and re-trips on a failure.

    The per-key outcome sequence folds IN-ROW over the order-sorted
    array with a struct accumulator (state, consec-fail, cooldown,
    trips, rejected) — one shuffle on the key, bounded by calls per
    service.  The ORACLE replays the same machine with a recursive
    CTE — a genuinely different mechanism.
    """
    f_thr, cd0 = F.lit(fail_threshold), F.lit(cooldown)
    base = df.select(
        F.col(key_col).alias("key"),
        F.struct(
            *[F.col(c) for c in order_cols],
            F.col(fail_col).cast("boolean").alias("f"),
        ).alias("e"),
    )
    per_key = base.groupBy("key").agg(
        F.sort_array(F.collect_list("e")).alias("es")
    )
    init = F.struct(
        F.lit(0).alias("st"),
        F.lit(0).alias("cf"),
        F.lit(0).alias("cd"),
        F.lit(0).alias("trips"),
        F.lit(0).alias("rej"),
    )

    def step(a, e):
        fl = e["f"]
        closed, is_open = a["st"] == 0, a["st"] == 1
        trip_from_closed = closed & fl & (a["cf"] + 1 >= f_thr)
        trip_from_half = (a["st"] == 2) & fl
        st = (
            F.when(trip_from_closed | trip_from_half, F.lit(1))
            .when(closed, F.lit(0))
            .when(is_open & (a["cd"] - 1 <= 0), F.lit(2))
            .when(is_open, F.lit(1))
            .otherwise(F.lit(0))
        )
        cf = F.when(
            closed & fl & ~trip_from_closed, a["cf"] + 1
        ).otherwise(F.lit(0))
        cd = (
            F.when(trip_from_closed | trip_from_half, cd0)
            .when(is_open, F.greatest(a["cd"] - 1, F.lit(0)))
            .otherwise(F.lit(0))
        )
        trips = a["trips"] + F.when(
            trip_from_closed | trip_from_half, F.lit(1)
        ).otherwise(F.lit(0))
        rej = a["rej"] + F.when(is_open, F.lit(1)).otherwise(F.lit(0))
        return F.struct(
            st.alias("st"), cf.alias("cf"), cd.alias("cd"),
            trips.alias("trips"), rej.alias("rej"),
        )

    fin = F.aggregate(F.col("es"), init, step)
    state_name = (
        F.when(fin["st"] == 0, F.lit("closed"))
        .when(fin["st"] == 1, F.lit("open"))
        .otherwise(F.lit("half_open"))
    )
    return per_key.select(
        "key",
        F.size("es").alias("n_events"),
        fin["trips"].alias("trips"),
        fin["rej"].alias("n_rejected"),
        state_name.alias("final_state"),
    )


def wilson_interval(
    df: DataFrame,
    key_col: str,
    success_col: str,
    z: float = 1.959963984540054,
) -> DataFrame:
    """Wilson score interval per key for a boolean rate — the error-
    rate CI that behaves at small n and rates near 0/1 where the
    normal (Wald) interval collapses; the number an SLO dashboard
    should shade around every error-rate point:
    ``center = (p̂ + z²/2n)/(1 + z²/n)``,
    ``half = z·√(p̂(1−p̂)/n + z²/4n²)/(1 + z²/n)``, pinned z.

    Integer n/k reach the only float expressions exactly; one
    map-side-combined aggregate is the whole plan.
    """
    s = F.col(success_col).cast("boolean")
    agg = df.groupBy(key_col).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(s, 1).otherwise(0)).alias("k"),
    )
    n = F.col("n").cast("double")
    p = F.col("k").cast("double") / n
    z2 = float(z) * float(z)
    denom = 1.0 + F.lit(z2) / n
    center = (p + F.lit(z2) / (2.0 * n)) / denom
    half = (
        F.lit(float(z))
        * F.sqrt(p * (1.0 - p) / n + F.lit(z2) / (4.0 * n * n))
        / denom
    )
    return agg.filter(F.col("n") > 0).select(
        key_col,
        F.col("n").cast("long").alias("n"),
        F.col("k").cast("long").alias("k"),
        F.round(p, 6).alias("rate"),
        F.round(F.greatest(center - half, F.lit(0.0)), 6).alias("lo"),
        F.round(F.least(center + half, F.lit(1.0)), 6).alias("hi"),
    )


def bh_fdr(
    df: DataFrame,
    id_col: str,
    p_col: str,
    q: float = 0.05,
) -> DataFrame:
    """Benjamini-Hochberg step-up FDR correction over a battery of
    p-values — the missing meta-layer above this module's many tests
    (run ks/mann-whitney/pettitt per key and you've run hundreds of
    tests; BH is what keeps the discovery list honest):
    rank p ascending, ``p_adj(i) = min_{j≥i} m·p(j)/j`` capped at 1
    (reverse running min), reject where ``p_adj ≤ q``.

    Rank ties break by id — fully deterministic.  One global sort of
    the TEST table (thousands of rows, never the fact table) + one
    reverse cummin window.
    """
    m_w = Window.partitionBy()
    w_rank = Window.orderBy(F.col("p").asc(), F.col("tid").asc())
    base = df.select(
        F.col(id_col).alias("tid"),
        F.col(p_col).cast("double").alias("p"),
    )
    ranked = base.withColumn("m", F.count("*").over(m_w)).withColumn(
        "rank", F.row_number().over(w_rank)
    )
    raw = (
        F.col("m").cast("double")
        * F.col("p")
        / F.col("rank").cast("double")
    )
    w_rev = (
        Window.orderBy(F.col("rank").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    padj = F.least(F.lit(1.0), F.min(raw).over(w_rev))
    return ranked.select(
        F.col("tid").alias(id_col),
        F.round("p", 8).alias("p"),
        F.col("rank"),
        F.round(padj, 8).alias("p_adj"),
        (padj <= F.lit(float(q))).alias("reject"),
    )


def ltob_downsample(
    df: DataFrame,
    key_col: str,
    x_col: str,
    y_col: str,
    n_out: int = 20,
) -> DataFrame:
    """Largest-Triangle-One-Bucket downsampling (Steinarsson 2013 —
    the parallel sibling of LTTB; Visvalingam effective areas with
    fixed neighbors, so NO sequential dependency between buckets):
    keep the first and last points; split the interior into
    ``n_out − 2`` buckets; in each bucket keep the point whose triangle
    with its immediate neighbors has the largest area — the dashboard
    downsampler that preserves spikes where avg/last-value smearing
    (`interval_last_value`, `m4_downsample`) flattens them.

    Effective areas come from one lag/lead window pass; the per-bucket
    argmax is a window rank (area desc, x asc — pinned tie-break).
    Series shorter than n_out pass through unchanged.  One shuffle on
    the key; never a global sort.
    """
    base = df.select(
        F.col(key_col).alias("key"),
        F.col(x_col).cast("double").alias("x"),
        F.col(y_col).cast("double").alias("y"),
    )
    w = Window.partitionBy("key").orderBy("x")
    w_all = Window.partitionBy("key")
    t = base.select(
        "key",
        "x",
        "y",
        F.row_number().over(w).alias("i"),
        F.count("*").over(w_all).alias("n"),
        F.lag("x", 1).over(w).alias("px"),
        F.lag("y", 1).over(w).alias("py"),
        F.lead("x", 1).over(w).alias("nx"),
        F.lead("y", 1).over(w).alias("ny"),
    )
    area = F.abs(
        (F.col("px") - F.col("nx")) * (F.col("y") - F.col("py"))
        - (F.col("px") - F.col("x")) * (F.col("ny") - F.col("py"))
    )
    edge = (F.col("i") == 1) | (F.col("i") == F.col("n"))
    small = F.col("n") <= F.lit(n_out)
    bucket = F.floor(
        (F.col("i") - 2).cast("double")
        * F.lit(float(n_out - 2))
        / (F.col("n") - 2).cast("double")
    )
    cand = t.select(
        "key", "x", "y", "i", "n",
        edge.alias("edge"),
        small.alias("small"),
        F.when(edge | small, F.lit(None)).otherwise(bucket).alias("b"),
        F.when(edge | small, F.lit(None)).otherwise(area).alias("area"),
    )
    w_b = Window.partitionBy("key", "b").orderBy(
        F.col("area").desc(), F.col("x").asc()
    )
    picked = cand.withColumn(
        "rk", F.when(F.col("b").isNotNull(), F.row_number().over(w_b))
    ).filter(
        F.col("edge") | F.col("small") | (F.col("rk") == 1)
    )
    return picked.select(
        "key",
        "x",
        "y",
        F.col("i").alias("orig_idx"),
        F.col("n").cast("long").alias("n_in"),
    )


def savgol_smooth(
    df: DataFrame,
    key_col: str,
    bucket_col: str,
    value_col: str,
) -> DataFrame:
    """Savitzky-Golay smoothing, window 5 / quadratic (pinned
    coefficients (−3, 12, 17, 12, −3)/35) per key — the polynomial
    smoother that preserves peak heights and widths where a moving
    average flattens them (the reason SG is the default in every
    signal-processing stack).  Edge points (first/last two) have no
    full window and emit NULL rather than a biased partial fit.

    One lag/lead window pass; the convolution is a fixed literal dot
    product evaluated in one deterministic order on both engines.
    """
    base = df.select(
        F.col(key_col).alias("key"),
        F.col(bucket_col).alias("b"),
        F.col(value_col).cast("double").alias("v"),
    )
    w = Window.partitionBy("key").orderBy("b")
    t = base.select(
        "key",
        "b",
        "v",
        F.lag("v", 2).over(w).alias("m2"),
        F.lag("v", 1).over(w).alias("m1"),
        F.lead("v", 1).over(w).alias("p1"),
        F.lead("v", 2).over(w).alias("p2"),
    )
    sm = (
        -3.0 * F.col("m2")
        + 12.0 * F.col("m1")
        + 17.0 * F.col("v")
        + 12.0 * F.col("p1")
        - 3.0 * F.col("p2")
    ) / 35.0
    return t.select(
        "key",
        "b",
        F.round("v", 6).alias("v"),
        F.round(sm, 6).alias("v_smooth"),
        F.round(F.col("v") - sm, 6).alias("resid"),
    )


def kneedle_detect(
    df: DataFrame,
    key_col: str,
    x_col: str,
    y_col: str,
    shape: str = "concave",
) -> DataFrame:
    """Kneedle knee/elbow detection (Satopää et al. 2011, the
    no-smoothing core) per key: min-max normalize the curve to the
    unit square; the difference curve is ``y−x`` for concave-
    increasing curves (knee) and ``x−y`` for convex-increasing ones
    (elbow, e.g. a Lorenz curve); the knee is the FIRST point
    maximizing the difference — the "choose k" rule for the module's
    k-means/IVF tiers and the capacity-curve break finder.

    One min/max window + one argmax rank per key; normalization
    ratios are the only floats and both engines compute them from the
    same exact extrema.
    """
    base = df.select(
        F.col(key_col).alias("key"),
        F.col(x_col).cast("double").alias("x"),
        F.col(y_col).cast("double").alias("y"),
    )
    w_all = Window.partitionBy("key")
    t = base.select(
        "key",
        "x",
        "y",
        F.min("x").over(w_all).alias("x0"),
        F.max("x").over(w_all).alias("x1"),
        F.min("y").over(w_all).alias("y0"),
        F.max("y").over(w_all).alias("y1"),
        F.count("*").over(w_all).alias("n"),
    ).filter((F.col("x1") > F.col("x0")) & (F.col("y1") > F.col("y0")))
    xn = (F.col("x") - F.col("x0")) / (F.col("x1") - F.col("x0"))
    yn = (F.col("y") - F.col("y0")) / (F.col("y1") - F.col("y0"))
    d = (yn - xn) if shape == "concave" else (xn - yn)
    scored = t.select(
        "key", "x", "y", "n", d.alias("d")
    )
    w_pick = Window.partitionBy("key").orderBy(
        F.col("d").desc(), F.col("x").asc()
    )
    return scored.withColumn("_r", F.row_number().over(w_pick)).filter(
        F.col("_r") == 1
    ).select(
        "key",
        F.col("n").cast("long").alias("n"),
        F.round("x", 6).alias("knee_x"),
        F.round("y", 6).alias("knee_y"),
        F.round("d", 6).alias("max_diff"),
    )


def jain_fairness(
    df: DataFrame,
    key_col: str,
    member_col: str,
    usage_col: str,
) -> DataFrame:
    """Jain's fairness index per key over member usage shares —
    ``J = (Σx)²/(n·Σx²)`` ∈ (0,1], 1 = perfectly fair, 1/n = one
    member hogs everything: the single number a multi-tenant pipeline
    publishes about its own scheduling (reference analog: the
    loadbalancing exporter's hash-route is SUPPOSED to keep this
    near 1).  Also emits the largest single share.

    Integer usages keep both power sums exact; one member-level
    aggregate then one key-level fold.
    """
    base = df.select(
        F.col(key_col).alias("key"),
        F.col(member_col).alias("m"),
        F.col(usage_col).cast("long").alias("x"),
    )
    per_m = base.groupBy("key", "m").agg(F.sum("x").alias("xu"))
    agg = per_m.groupBy("key").agg(
        F.count("*").alias("n"),
        F.sum("xu").alias("s"),
        F.sum(F.col("xu") * F.col("xu")).alias("q"),
        F.max("xu").alias("mx"),
    )
    s, q = F.col("s").cast("double"), F.col("q").cast("double")
    n = F.col("n").cast("double")
    return agg.filter((F.col("n") > 0) & (F.col("q") > 0)).select(
        "key",
        F.col("n").cast("long").alias("n_members"),
        F.round(s * s / (n * q), 6).alias("jain"),
        F.round(F.col("mx").cast("double") / s, 6).alias("max_share"),
    )


def erlang_queue(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    mu_per_s: float,
    servers: int,
) -> DataFrame:
    """Erlang blocking/waiting model per key from the MEASURED arrival
    rate — the capacity-planning closer for `concurrency_curve`'s
    Little's-law L: offered load ``A = λ/μ``, Erlang B via the stable
    recurrence ``B_k = A·B_{k−1}/(k + A·B_{k−1})`` (never the
    overflowing A^c/c! form), Erlang C ``= B/(1 − ρ(1−B))`` (P(wait),
    ∞-queue M/M/c), utilization ρ = A/c.

    λ comes from exact integer count / exact epoch span; the
    recurrence folds over the pinned server count in index order —
    deterministic on both engines (the ORACLE steps it with a
    recursive CTE).  One aggregate per key.
    """
    us = F.unix_micros(F.col(ts_col).cast("timestamp_ltz"))
    agg = df.groupBy(key_col).agg(
        F.count("*").alias("n"),
        F.min(us).alias("t0"),
        F.max(us).alias("t1"),
    ).filter(F.col("t1") > F.col("t0"))
    span_s = (F.col("t1") - F.col("t0")).cast("double") / 1e6
    lam = F.col("n").cast("double") / span_s
    a = lam / F.lit(float(mu_per_s))
    rho = a / F.lit(float(servers))
    b = F.aggregate(
        F.sequence(F.lit(1), F.lit(int(servers))),
        F.lit(1.0),
        lambda acc, k: a * acc / (k.cast("double") + a * acc),
    )
    c_wait = F.when(
        rho < 1.0, b / (1.0 - rho * (1.0 - b))
    ).otherwise(F.lit(1.0))
    return agg.select(
        key_col,
        F.col("n").cast("long").alias("n_arrivals"),
        F.round(lam, 6).alias("lambda_per_s"),
        F.round(a, 6).alias("offered_load"),
        F.round(rho, 6).alias("utilization"),
        F.round(b, 6).alias("erlang_b"),
        F.round(c_wait, 6).alias("erlang_c"),
    )


def incident_mttr(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    gap_s: int = 3600,
) -> DataFrame:
    """Incident MTTR/MTBF per key from an error-event stream — the
    DORA-flavored rollup on top of raw errors: incidents are maximal
    error runs separated by more than ``gap_s`` of quiet (classic
    gaps-and-islands), MTTR = mean incident duration, MTBF = mean gap
    between incident STARTS (telescoping: (last_start − first_start)
    / (n−1), exact in integer micros).

    Pass pre-filtered error events.  One lag window + two keyed
    aggregates; every time quantity stays integer micros until the
    final divisions.
    """
    us = F.unix_micros(F.col(ts_col).cast("timestamp_ltz"))
    w = Window.partitionBy("key").orderBy("t")
    base = df.select(F.col(key_col).alias("key"), us.alias("t"))
    marked = base.withColumn(
        "new_inc",
        F.when(
            F.lag("t", 1).over(w).isNull()
            | (F.col("t") - F.lag("t", 1).over(w) > int(gap_s) * 1000000),
            1,
        ).otherwise(0),
    ).withColumn(
        "inc_id",
        F.sum("new_inc").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    per_inc = marked.groupBy("key", "inc_id").agg(
        F.min("t").alias("start"),
        F.max("t").alias("end"),
        F.count("*").alias("ne"),
    )
    agg = per_inc.groupBy("key").agg(
        F.count("*").alias("n_inc"),
        F.sum(F.col("end") - F.col("start")).alias("dur_us"),
        F.min("start").alias("fs"),
        F.max("start").alias("ls"),
        F.sum("ne").alias("n_events"),
    )
    mttr = F.col("dur_us").cast("double") / 1e6 / F.col("n_inc")
    mtbf = F.when(
        F.col("n_inc") >= 2,
        (F.col("ls") - F.col("fs")).cast("double")
        / 1e6
        / (F.col("n_inc") - 1),
    )
    return agg.select(
        "key",
        F.col("n_inc").cast("long").alias("n_incidents"),
        F.col("n_events").cast("long").alias("n_error_events"),
        F.round(mttr, 3).alias("mttr_s"),
        F.round(mtbf, 3).alias("mtbf_s"),
    )


def cron_schedule_audit(
    df: DataFrame,
    id_col: str,
    cron_col: str,
    dom: int = 12,
    month: int = 1,
    dow: int = 5,
) -> DataFrame:
    """Cron-expression audit against a pinned reference day — the
    scheduled-scrape collision review (every monitor firing at :00
    stampedes the API; this shows who fires when): parse the 5-field
    expression (``*``, ``*/n``, ``a``, ``a-b``, commas), expand over
    the day's 1440 minutes, emit fires/day and the first firing
    minute.

    Field matching is a per-minute in-row fold over the comma-split
    segments (exists() on the bounded segment list); the ×1440 explode
    happens on the EXPRESSION table (config-sized), never on facts.
    dom/month/dow fields evaluate against the pinned reference date.
    """
    five = F.split(F.trim(F.col(cron_col)), r"\s+")
    well = F.size(five) == 5

    def field_match(field: Column, value: Column) -> Column:
        segs = F.split(field, ",")
        return F.exists(
            segs,
            lambda s: (
                (s == "*")
                | (
                    s.rlike(r"^\*/\d+$")
                    & (
                        value
                        % F.regexp_extract(s, r"^\*/(\d+)$", 1).cast(
                            "int"
                        )
                        == 0
                    )
                )
                | (
                    s.rlike(r"^\d+-\d+$")
                    & value.between(
                        F.regexp_extract(s, r"^(\d+)-", 1).cast("int"),
                        F.regexp_extract(s, r"-(\d+)$", 1).cast("int"),
                    )
                )
                | (s.rlike(r"^\d+$") & (value == s.cast("int")))
            ),
        )

    base = df.select(
        F.col(id_col).alias("id"),
        F.col(cron_col).alias("cron"),
        five.alias("f"),
        well.alias("well_formed"),
    )
    day_ok = (
        field_match(F.element_at("f", 3), F.lit(dom))
        & field_match(F.element_at("f", 4), F.lit(month))
        & field_match(F.element_at("f", 5), F.lit(dow))
    )
    minutes = base.filter("well_formed").withColumn(
        "m", F.explode(F.sequence(F.lit(0), F.lit(1439)))
    )
    fired = minutes.filter(
        day_ok
        & field_match(F.element_at("f", 1), F.col("m") % 60)
        & field_match(F.element_at("f", 2), F.floor(F.col("m") / 60))
    )
    agg = fired.groupBy("id").agg(
        F.count("*").alias("n_fires_day"),
        F.min("m").alias("first_fire_minute"),
    )
    return base.select("id", "well_formed").join(agg, "id", "left").select(
        F.col("id").alias(id_col),
        "well_formed",
        F.coalesce(
            F.when(F.col("well_formed"), F.col("n_fires_day")),
            F.when(F.col("well_formed"), F.lit(0)),
        ).cast("long").alias("n_fires_day"),
        F.col("first_fire_minute").cast("int").alias("first_fire_minute"),
    )


def iqr_outliers(
    df: DataFrame,
    key_col: str,
    value_col: str,
    k: float = 1.5,
) -> DataFrame:
    """Tukey-fence outlier summary per key using TUKEY HINGES (medians
    of the lower/upper halves, median included when n is odd) — the
    boxplot's own quartiles, and crucially EXACT mid-rank averages on
    both engines, never an interpolated percentile: fences at
    ``hinge ∓ k·IQR``, emitting the hinges, fences, and how many rows
    fall outside.

    Two window passes (rank, then the hinge picks) + one keyed
    aggregate; all position arithmetic is integer.
    """
    base = df.select(
        F.col(key_col).alias("key"),
        F.col(value_col).cast("double").alias("v"),
    ).filter(F.col("v").isNotNull())
    w_rn = Window.partitionBy("key").orderBy("v")
    w_all = Window.partitionBy("key")
    t = base.withColumn("rn", F.row_number().over(w_rn)).withColumn(
        "n", F.count("*").over(w_all)
    )
    m = F.ceil(F.col("n") / 2)                      # lower-half size
    lo_lo = F.floor((m + 1) / 2)
    lo_hi = F.ceil((m + 1) / 2)
    off = F.col("n") - m                            # upper half start-1
    hi_lo = off + lo_lo
    hi_hi = off + lo_hi
    q1 = F.avg(
        F.when((F.col("rn") == lo_lo) | (F.col("rn") == lo_hi), F.col("v"))
    ).over(w_all)
    q3 = F.avg(
        F.when((F.col("rn") == hi_lo) | (F.col("rn") == hi_hi), F.col("v"))
    ).over(w_all)
    iqr = q3 - q1
    lo_f = q1 - F.lit(float(k)) * iqr
    hi_f = q3 + F.lit(float(k)) * iqr
    flagged = t.select(
        "key",
        "n",
        q1.alias("q1"),
        q3.alias("q3"),
        lo_f.alias("lo"),
        hi_f.alias("hi"),
        ((F.col("v") < lo_f) | (F.col("v") > hi_f)).cast("int").alias(
            "is_out"
        ),
    )
    return flagged.groupBy("key").agg(
        F.max("n").cast("long").alias("n"),
        F.round(F.first("q1"), 6).alias("q1"),
        F.round(F.first("q3"), 6).alias("q3"),
        F.round(F.first("q3") - F.first("q1"), 6).alias("iqr"),
        F.round(F.first("lo"), 6).alias("lo_fence"),
        F.round(F.first("hi"), 6).alias("hi_fence"),
        F.sum("is_out").cast("long").alias("n_outliers"),
    )


def transaction_boundaries(
    df: DataFrame,
    key_col: str,
    order_cols: list[str],
    start_col: str,
    end_col: str,
) -> DataFrame:
    """Splunk ``transaction startswith=... endswith=...`` semantics —
    the explicit-boundary sessionization the maxpause/maxspan variant
    can't express: a transaction opens at a start-marker event and
    closes at the first end marker after it; later events under the
    same open id are trailing orphans (counted, not members), and
    events before any start belong to nothing.

    One cumulative-sum window assigns transaction ids (running count
    of starts); the first end position per id comes from one
    min-aggregate window — no self-join.  Emits per transaction:
    member count, trailing-orphan count, completeness, and the
    member-window timestamps.
    """
    w = Window.partitionBy("key").orderBy(
        *[F.col(c) for c in order_cols]
    )
    w_cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    base = df.select(
        F.col(key_col).alias("key"),
        *[F.col(c) for c in order_cols],
        F.col(start_col).cast("boolean").alias("s"),
        F.col(end_col).cast("boolean").alias("e"),
    )
    sid = base.withColumn(
        "sid", F.sum(F.col("s").cast("int")).over(w_cum)
    ).filter(F.col("sid") > 0)
    w_t = Window.partitionBy("key", "sid").orderBy(
        *[F.col(c) for c in order_cols]
    )
    w_ta = Window.partitionBy("key", "sid")
    pos = sid.withColumn("pos", F.row_number().over(w_t)).withColumn(
        "end_pos",
        F.min(F.when(F.col("e"), F.col("pos"))).over(w_ta),
    )
    member = F.col("pos") <= F.coalesce(
        F.col("end_pos"), F.lit(1 << 30)
    )
    o1 = order_cols[0]
    return pos.groupBy("key", "sid").agg(
        F.sum(member.cast("int")).cast("long").alias("n_events"),
        F.sum((~member).cast("int")).cast("long").alias(
            "n_trailing_orphans"
        ),
        F.max(F.col("e").cast("int")).cast("boolean").alias("complete"),
        F.min(F.when(member, F.col(o1))).alias("start_at"),
        F.max(F.when(member, F.col(o1))).alias("end_at"),
    )


def soundex_grouping(
    df: DataFrame,
    key_col: str,
    name_col: str,
) -> DataFrame:
    """Soundex phonetic grouping of a name-ish column (hostnames,
    operator names, customer surnames) — the classic typo/variant
    collapser for entity resolution blocking: the native JVM
    ``soundex`` code per distinct name plus how many sibling variants
    share the code within the key.

    One distinct + one count window on (key, code); soundex itself is
    codegen'd JVM string work.
    """
    d = df.select(
        F.col(key_col).alias("key"), F.col(name_col).alias("name")
    ).distinct()
    coded = d.withColumn("code", F.soundex("name"))
    w = Window.partitionBy("key", "code")
    return coded.select(
        F.col("key").alias(key_col),
        "name",
        "code",
        F.count("*").over(w).cast("long").alias("n_variants"),
    )


def flap_detection(
    df: DataFrame,
    key_col: str,
    order_cols: list[str],
    state_col: str,
    window: int = 6,
    threshold: int = 4,
) -> DataFrame:
    """Alert flap detection (the Nagios/Sensu suppression rule): a
    series whose up/down state TOGGLES ``threshold``+ times within any
    ``window`` consecutive observations is flapping, and its alerts
    should be suppressed rather than paged.  Emits per key: total
    toggles, the worst windowed toggle count, and the flapping
    verdict.

    One lag window marks toggles, one rolling row-frame counts them,
    one keyed aggregate summarizes — never a self-join.
    """
    w = Window.partitionBy("key").orderBy(
        *[F.col(c) for c in order_cols]
    )
    base = df.select(
        F.col(key_col).alias("key"),
        *[F.col(c) for c in order_cols],
        F.col(state_col).cast("boolean").alias("st"),
    )
    lagged = base.withColumn(
        "tog",
        F.when(
            F.lag("st", 1).over(w).isNotNull()
            & (F.col("st") != F.lag("st", 1).over(w)),
            1,
        ).otherwise(0),
    )
    w_roll = w.rowsBetween(-(int(window) - 1), 0)
    rolled = lagged.withColumn(
        "roll", F.sum("tog").over(w_roll)
    )
    return rolled.groupBy("key").agg(
        F.count("*").cast("long").alias("n_obs"),
        F.sum("tog").cast("long").alias("n_toggles"),
        F.max("roll").cast("long").alias("max_window_toggles"),
        (F.max("roll") >= int(threshold)).alias("flapping"),
    )


def kmv_sketch(
    df: DataFrame,
    group_cols: list[str],
    item_col,
    k: int = 32,
) -> DataFrame:
    """K-minimum-values distinct sketch per group.

    Reference analog: the collector's count connector reports exact
    grouped counts; at 10^12 rows an exact COUNT(DISTINCT) per group is
    a full shuffle of every distinct pair, while a KMV sketch carries a
    fixed k values per group and — unlike HyperLogLog (``hll_distinct``)
    — supports set INTERSECTION estimates, which HLL fundamentally
    cannot (union-only).  KMV: hash every item with an engine-portable
    md5-derived 32-bit hash, keep the k smallest distinct hash values;
    if fewer than k distinct values exist the sketch is exact, else
    estimate n ~= (k-1) * 2^32 / kth_min (Bar-Yossef et al.,
    "Counting distinct elements in a data stream").

    Scale shape: one distinct-shuffle on (group, hash) with partial
    aggregation, then a bounded per-group top-k via window row_number
    (k rows per group survive).  No collect, no global sort.

    Returns per group: ``k_used`` (sketch fill), ``kth_min`` (largest
    retained hash), ``est_distinct`` (rounded to 6 dp — exact fill
    count when under-full, KMV estimator otherwise).
    """
    col = F.col(item_col) if isinstance(item_col, str) else item_col
    hv = F.conv(F.substring(F.md5(col.cast("string")), 1, 8), 16, 10).cast(
        "long"
    )
    hashed = df.select(*group_cols, hv.alias("_hv")).distinct()
    w = Window.partitionBy(*group_cols).orderBy("_hv")
    sk = hashed.withColumn("_rn", F.row_number().over(w)).filter(
        F.col("_rn") <= k
    )
    kc = F.count(F.lit(1))
    kth = F.max("_hv")
    est = F.when(kc < k, kc.cast("double")).otherwise(
        F.round((F.lit(float(k - 1)) * 4294967296.0) / kth, 6)
    )
    return sk.groupBy(*group_cols).agg(
        kc.cast("long").alias("k_used"),
        kth.cast("long").alias("kth_min"),
        est.alias("est_distinct"),
    )


def anova_oneway(
    df: DataFrame,
    group_col: str,
    value_col: str,
) -> DataFrame:
    """One-way ANOVA F-statistic across k groups, from power sums.

    Completes the two-sample ``welch_t_test`` to k groups: does the
    mean of ``value_col`` differ across levels of ``group_col``?
    F = (SSB / (k-1)) / (SSW / (n-k)) with SSW/SSB folded through per-
    group (n, sum, sumsq) — ONE shuffle on the group key with partial
    aggregation, then a single-row reduce.  No per-row second pass
    (the textbook sum((x - mean_g)^2) would rescan the fact table).

    Returns one row: k, n, df1, df2, f_stat (round 6), ssb/ssw
    (round 4).
    """
    v = F.col(value_col).cast("double")
    per = (
        df.filter(v.isNotNull())
        .groupBy(group_col)
        .agg(
            F.count(F.lit(1)).cast("double").alias("_n"),
            F.sum(v).alias("_s"),
            F.sum(v * v).alias("_q"),
        )
    )
    tot = per.agg(
        F.count(F.lit(1)).cast("double").alias("k"),
        F.sum("_n").alias("n"),
        F.sum("_s").alias("s"),
        F.sum("_q").alias("q"),
        F.sum(F.col("_s") * F.col("_s") / F.col("_n")).alias("sb"),
    )
    ssb = F.col("sb") - F.col("s") * F.col("s") / F.col("n")
    ssw = F.col("q") - F.col("sb")
    df1 = F.col("k") - 1
    df2 = F.col("n") - F.col("k")
    return tot.select(
        F.col("k").cast("long").alias("k"),
        F.col("n").cast("long").alias("n"),
        df1.cast("long").alias("df1"),
        df2.cast("long").alias("df2"),
        F.round(ssb, 4).alias("ssb"),
        F.round(ssw, 4).alias("ssw"),
        F.round((ssb / df1) / (ssw / df2), 6).alias("f_stat"),
    )


def business_hours_duration(
    pairs: DataFrame,
    key_cols: list[str],
    start_col: str,
    end_col: str,
    open_hour: int = 9,
    close_hour: int = 17,
) -> DataFrame:
    """Business-hours overlap (seconds) of [start, end] intervals.

    SLA clocks ("responded within 4 business hours") must exclude
    nights and weekends.  Each interval is expanded to its covered
    calendar days with ``sequence()`` + ``explode`` (JVM builtins —
    O(interval days) rows, no Python), each day clamped to the
    [open_hour, close_hour) window, Sat/Sun dropped, then re-summed
    per key.  For telemetry SLA intervals (hours-to-days) the
    expansion factor is tiny; a closed-form cumulative-calendar
    function only wins on multi-year intervals.

    ``key_cols`` must uniquely identify input rows (caller-owned —
    a generated monotonically_increasing_id would not survive task
    retries deterministically, so it is deliberately NOT used here).
    Returns (key_cols..., business_seconds:long); intervals with
    end < start yield 0.
    """

    def _ep(c):
        return c.cast("timestamp_ltz").cast("double")

    s = F.col(start_col).cast("timestamp")
    e = F.col(end_col).cast("timestamp")
    ex = pairs.select(
        *key_cols,
        s.alias("_s"),
        e.alias("_e"),
        F.explode_outer(
            F.when(
                e >= s,
                F.sequence(F.date_trunc("day", s), F.date_trunc("day", e)),
            ).otherwise(F.array())
        ).alias("_d"),
    )
    day_open = F.col("_d") + F.expr(f"interval {open_hour} hours")
    day_close = F.col("_d") + F.expr(f"interval {close_hour} hours")
    lo = F.greatest(F.col("_s"), day_open)
    hi = F.least(F.col("_e"), day_close)
    secs = F.when(
        F.dayofweek("_d").isin(1, 7) | F.col("_d").isNull(), F.lit(0.0)
    ).otherwise(F.greatest(_ep(hi) - _ep(lo), F.lit(0.0)))
    return ex.groupBy(*key_cols).agg(
        F.round(F.sum(secs)).cast("long").alias("business_seconds")
    )


def simpson_diversity(
    df: DataFrame,
    group_cols: list[str],
    cat_col: str,
) -> DataFrame:
    """Simpson diversity index + Berger-Parker dominance per group.

    Ecology-style concentration measures over categorical telemetry
    (event-type mix per tenant, tool mix per conversation): Simpson's
    D = 1 - sum(n_i*(n_i-1)) / (N*(N-1)) is the probability two draws
    without replacement differ; Berger-Parker = max(n_i)/N is the share
    of the dominant category.  All-integer numerators (exact, fold-
    order-free) divided once at the end — two chained groupBys, both
    partial-aggregated.

    Returns (group_cols..., n, n_cats, simpson, berger_parker).
    """
    counts = df.groupBy(*group_cols, cat_col).agg(
        F.count(F.lit(1)).alias("_c")
    )
    c = F.col("_c")
    agg = counts.groupBy(*group_cols).agg(
        F.sum(c).alias("_n"),
        F.count(F.lit(1)).alias("n_cats"),
        F.sum(c * (c - 1)).alias("_pairs"),
        F.max(c).alias("_mx"),
    )
    n = F.col("_n").cast("double")
    return agg.select(
        *group_cols,
        F.col("_n").cast("long").alias("n"),
        F.col("n_cats").cast("long").alias("n_cats"),
        F.when(
            F.col("_n") > 1,
            F.round(1.0 - F.col("_pairs") / (n * (n - 1.0)), 6),
        ).otherwise(F.lit(0.0)).alias("simpson"),
        F.round(F.col("_mx") / n, 6).alias("berger_parker"),
    )


def durbin_watson(
    df: DataFrame,
    group_col: str,
    order_cols: list[str],
    value_col: str,
) -> DataFrame:
    """Durbin-Watson first-order autocorrelation statistic per group.

    DW = sum((r_t - r_{t-1})^2) / sum(r_t^2) over residuals r = value -
    group mean, in ``order_cols`` order (ties must be broken by the
    caller's order columns for determinism).  DW ~ 2 means no lag-1
    autocorrelation, -> 0 positive, -> 4 negative; the collector-side
    use is detecting smoothed/stuck gauges (positively autocorrelated
    residuals) before alerting math assumes independence.

    Shape: one groupBy for the mean (joined back — AQE broadcasts the
    tiny aggregate), one window lag (single shuffle on the group key),
    one final groupBy.  Means fold as sum/count power sums.
    """
    v = F.col(value_col).cast("double")
    means = df.groupBy(group_col).agg(
        F.sum(v).alias("_s"), F.count(v).alias("_n")
    )
    j = df.join(means, group_col).withColumn(
        "_r", v - F.col("_s") / F.col("_n")
    )
    w = Window.partitionBy(group_col).orderBy(*order_cols)
    j = j.withColumn("_dr", F.col("_r") - F.lag("_r").over(w))
    return j.groupBy(group_col).agg(
        F.count(v).cast("long").alias("n"),
        F.round(
            F.sum(F.col("_dr") * F.col("_dr")) / F.sum(F.col("_r") * F.col("_r")),
            6,
        ).alias("dw"),
    )


def cohens_d(
    df: DataFrame,
    group_col: str,
    seg_col: str,
    value_col: str,
) -> DataFrame:
    """Cohen's d and Hedges' g effect sizes between two segments.

    ``welch_t_test`` answers "is the difference real"; effect size
    answers "is it big enough to matter" — the alerting threshold
    question.  d = (mean_a - mean_b) / pooled_sd with pooled_sd folded
    from per-segment power sums; Hedges' g applies the small-sample
    bias correction J = 1 - 3/(4*df - 1).  One shuffle on the group
    key, conditional aggregation over the two segments (seg 0/1).

    Returns per group: n_a, n_b, mean_diff, pooled_sd, cohens_d,
    hedges_g (floats rounded to 6).
    """
    v = F.col(value_col).cast("double")
    g = F.col(seg_col)
    agg = df.filter(v.isNotNull()).groupBy(group_col).agg(
        F.count(F.when(g == 0, 1)).cast("double").alias("n0"),
        F.sum(F.when(g == 0, v)).alias("s0"),
        F.sum(F.when(g == 0, v * v)).alias("q0"),
        F.count(F.when(g == 1, 1)).cast("double").alias("n1"),
        F.sum(F.when(g == 1, v)).alias("s1"),
        F.sum(F.when(g == 1, v * v)).alias("q1"),
    )
    n0, s0, q0 = F.col("n0"), F.col("s0"), F.col("q0")
    n1, s1, q1 = F.col("n1"), F.col("s1"), F.col("q1")
    ss0 = q0 - s0 * s0 / n0
    ss1 = q1 - s1 * s1 / n1
    dfree = n0 + n1 - 2
    pooled = F.sqrt((ss0 + ss1) / dfree)
    d = (s0 / n0 - s1 / n1) / pooled
    j = 1.0 - 3.0 / (4.0 * dfree - 1.0)
    return agg.filter((n0 > 1) & (n1 > 1)).select(
        group_col,
        n0.cast("long").alias("n_a"),
        n1.cast("long").alias("n_b"),
        F.round(s0 / n0 - s1 / n1, 6).alias("mean_diff"),
        F.round(pooled, 6).alias("pooled_sd"),
        F.round(d, 6).alias("cohens_d"),
        F.round(d * j, 6).alias("hedges_g"),
    )


def mcnemar_test(
    df: DataFrame,
    unit_cols: list[str],
    phase_col: str,
    outcome_col: str,
) -> DataFrame:
    """McNemar paired-proportions test over before/after outcomes.

    "Did the error rate change for the SAME population after the
    deploy?" — a two-proportion z-test is wrong when the before and
    after groups are the same units; McNemar uses only the DISCORDANT
    pairs: b = units positive before & negative after, c = the
    reverse, chi2 = (b-c)^2/(b+c) (1 df), with the continuity-
    corrected variant (|b-c|-1)^2/(b+c) alongside.

    ``phase_col`` must be 0 (before) / 1 (after); ``outcome_col``
    boolean-ish.  One shuffle to pair units, one single-row reduce —
    all-integer until the final division.

    Returns one row: n_units, b, c, chi2, chi2_corrected (round 6).
    """
    o = F.col(outcome_col).cast("int")
    pairs = df.groupBy(*unit_cols).agg(
        F.max(F.when(F.col(phase_col) == 0, o)).alias("_before"),
        F.max(F.when(F.col(phase_col) == 1, o)).alias("_after"),
    ).filter(F.col("_before").isNotNull() & F.col("_after").isNotNull())
    agg = pairs.agg(
        F.count(F.lit(1)).alias("n_units"),
        F.sum(
            ((F.col("_before") == 1) & (F.col("_after") == 0)).cast("int")
        ).alias("b"),
        F.sum(
            ((F.col("_before") == 0) & (F.col("_after") == 1)).cast("int")
        ).alias("c"),
    )
    b, c = F.col("b").cast("double"), F.col("c").cast("double")
    return agg.select(
        F.col("n_units").cast("long").alias("n_units"),
        F.col("b").cast("long").alias("b"),
        F.col("c").cast("long").alias("c"),
        F.when(
            b + c > 0, F.round((b - c) * (b - c) / (b + c), 6)
        ).otherwise(0.0).alias("chi2"),
        F.when(
            b + c > 0,
            F.round(
                (F.abs(b - c) - 1) * (F.abs(b - c) - 1) / (b + c), 6
            ),
        ).otherwise(0.0).alias("chi2_corrected"),
    )


def grubbs_test(
    df: DataFrame,
    group_col: str,
    value_col: str,
) -> DataFrame:
    """Grubbs' single-outlier test statistic per group.

    G = max|x - mean| / sd, folded WITHOUT a second scan: the farthest
    point from the mean is always the min or the max, so G =
    max(mean - min, max - mean) / sd from one (count, sum, sumsq, min,
    max) aggregation — one shuffle, no join-back, no window.  The
    flagged ``outlier_value`` is whichever extreme won.

    Returns per group: n, mean/sd (round 6), g_stat (round 6),
    outlier_value.  Groups with n < 3 or zero variance are dropped
    (G undefined).
    """
    v = F.col(value_col).cast("double")
    agg = df.filter(v.isNotNull()).groupBy(group_col).agg(
        F.count(F.lit(1)).cast("double").alias("_n"),
        F.sum(v).alias("_s"),
        F.sum(v * v).alias("_q"),
        F.min(v).alias("_mn"),
        F.max(v).alias("_mx"),
    )
    n, s, q = F.col("_n"), F.col("_s"), F.col("_q")
    mean = s / n
    sd = F.sqrt((q - s * s / n) / (n - 1))
    lo_dev = mean - F.col("_mn")
    hi_dev = F.col("_mx") - mean
    g = F.greatest(lo_dev, hi_dev) / sd
    return agg.filter((n >= 3) & (q - s * s / n > 0)).select(
        group_col,
        n.cast("long").alias("n"),
        F.round(mean, 6).alias("mean"),
        F.round(sd, 6).alias("sd"),
        F.round(g, 6).alias("g_stat"),
        F.when(hi_dev >= lo_dev, F.col("_mx"))
        .otherwise(F.col("_mn"))
        .alias("outlier_value"),
    )


def ljung_box(
    df: DataFrame,
    group_col: str,
    order_cols: list[str],
    value_col: str,
    max_lag: int = 5,
) -> DataFrame:
    """Ljung-Box joint autocorrelation test per group.

    Where ``durbin_watson`` checks lag-1 only, Ljung-Box tests lags
    1..m jointly: Q = n(n+2) * sum_k r_k^2/(n-k), r_k the lag-k sample
    autocorrelation of the mean-centered series in ``order_cols``
    order.  Q ~ chi2(m) under whiteness — large Q = the residuals are
    a time series, not noise, and alert thresholds computed from iid
    math are wrong.

    Shape: mean via groupBy + join-back (AQE broadcasts the tiny
    aggregate), ONE window with m lag() columns (single shuffle on the
    group key), one final groupBy folding sum(c0) and the m cross sums.

    Returns per group: n, r_1..r_m (round 6), q_stat (round 6).
    """
    v = F.col(value_col).cast("double")
    means = df.filter(v.isNotNull()).groupBy(group_col).agg(
        F.sum(v).alias("_s"), F.count(v).alias("_cnt")
    )
    j = (
        df.filter(v.isNotNull())
        .join(means, group_col)
        .withColumn("_r", v - F.col("_s") / F.col("_cnt"))
    )
    w = Window.partitionBy(group_col).orderBy(*order_cols)
    for k in range(1, max_lag + 1):
        j = j.withColumn(f"_l{k}", F.lag("_r", k).over(w))
    aggs = [
        F.count(F.lit(1)).alias("_n"),
        F.sum(F.col("_r") * F.col("_r")).alias("_c0"),
    ] + [
        F.sum(F.col("_r") * F.col(f"_l{k}")).alias(f"_c{k}")
        for k in range(1, max_lag + 1)
    ]
    a = j.groupBy(group_col).agg(*aggs)
    n = F.col("_n").cast("double")
    rks = [F.col(f"_c{k}") / F.col("_c0") for k in range(1, max_lag + 1)]
    q = (
        n
        * (n + 2.0)
        * sum(
            (rk * rk) / (n - float(k))
            for k, rk in enumerate(rks, start=1)
        )
    )
    return a.select(
        group_col,
        F.col("_n").cast("long").alias("n"),
        *[
            F.round(rk, 6).alias(f"r_{k}")
            for k, rk in enumerate(rks, start=1)
        ],
        F.round(q, 6).alias("q_stat"),
    )


def lorenz_deciles(
    df: DataFrame,
    unit_col: str,
    value_col: str,
) -> DataFrame:
    """Lorenz curve at deciles: cumulative value share vs population.

    The curve behind ``gini_user_activity``: after totaling
    ``value_col`` per unit, units are ranked ascending (ties broken by
    unit id for determinism), cut into 10 ntile buckets, and each
    decile reports the cumulative population and value shares — the
    inequality profile itself ("the top 10% of conversations carry X%
    of the tokens"), which a single Gini coefficient flattens away.

    Shape: one shuffle to unit totals, one window for ntile over the
    ranked totals, a 10-row aggregate + running sum — no collect, no
    global sort of the fact table (only unit totals are ranked).

    Returns per decile 1..10: n_units, cum_pop_share, cum_value_share
    (round 6).
    """
    totals = df.groupBy(unit_col).agg(
        F.sum(F.col(value_col).cast("double")).alias("_t")
    )
    w = Window.orderBy(F.col("_t").asc(), F.col(unit_col).asc())
    tiled = totals.withColumn("_d", F.ntile(10).over(w))
    per = tiled.groupBy("_d").agg(
        F.count(F.lit(1)).alias("_n"), F.sum("_t").alias("_v")
    )
    wc = Window.orderBy("_d").rowsBetween(Window.unboundedPreceding, 0)
    tot_n = F.sum("_n").over(Window.partitionBy())
    tot_v = F.sum("_v").over(Window.partitionBy())
    return (
        per.withColumn("_cn", F.sum("_n").over(wc))
        .withColumn("_cv", F.sum("_v").over(wc))
        .select(
            F.col("_d").cast("long").alias("decile"),
            F.col("_n").cast("long").alias("n_units"),
            F.round(F.col("_cn") / tot_n.cast("double"), 6).alias(
                "cum_pop_share"
            ),
            F.round(F.col("_cv") / tot_v, 6).alias("cum_value_share"),
        )
    )


def dora_metrics(
    deploys: DataFrame,
    incidents: DataFrame,
    unit_col: str = "user_id",
    deploy_ts: str = "ts",
    incident_ts: str = "ts",
    lead_col: str = "lead_minutes",
    failure_window_s: int = 3600,
) -> DataFrame:
    """DORA delivery metrics: frequency, lead time, change failure rate.

    Companion to ``incident_mttr`` (which owns restore time): given a
    deploy stream (with a per-deploy lead-time measure) and an
    incident stream, computes deployment frequency per day over the
    observed span, exact interpolated lead-time p50/p90, and change
    failure rate = share of deploys with an incident on the same unit
    within ``failure_window_s``.

    The failure probe joins on the unit key then filters the time
    window — an equi-join shuffle, NOT a theta join; the per-unit
    match set is bounded by the unit's incident count.  left_semi
    keeps it set-shaped (a deploy with 3 incidents counts once).

    Returns ONE row: n_deploys, deploys_per_day, lead_p50, lead_p90,
    n_failed, change_failure_rate (floats round 6).
    """

    def _ep(c) -> Column:
        return F.col(c).cast("timestamp_ltz").cast("double")

    d = deploys.select(
        F.col(unit_col).alias("_u"),
        _ep(deploy_ts).alias("_dts"),
        F.col(lead_col).cast("double").alias("_lead"),
    )
    i = incidents.select(
        F.col(unit_col).alias("_u"), _ep(incident_ts).alias("_its")
    )
    failed = d.join(
        i,
        (d["_u"] == i["_u"])
        & (i["_its"] >= d["_dts"])
        & (i["_its"] <= d["_dts"] + failure_window_s),
        "left_semi",
    )
    n_failed = failed.agg(F.count(F.lit(1)).alias("nf"))
    agg = d.agg(
        F.count(F.lit(1)).alias("nd"),
        F.min("_dts").alias("t0"),
        F.max("_dts").alias("t1"),
        F.expr("percentile(_lead, 0.5)").alias("p50"),
        F.expr("percentile(_lead, 0.9)").alias("p90"),
    )
    out = agg.crossJoin(F.broadcast(n_failed))
    span_days = (F.col("t1") - F.col("t0")) / 86400.0
    return out.select(
        F.col("nd").cast("long").alias("n_deploys"),
        F.round(F.col("nd") / span_days, 6).alias("deploys_per_day"),
        F.round("p50", 6).alias("lead_p50"),
        F.round("p90", 6).alias("lead_p90"),
        F.col("nf").cast("long").alias("n_failed"),
        F.round(F.col("nf") / F.col("nd").cast("double"), 6).alias(
            "change_failure_rate"
        ),
    )


def kmv_jaccard(
    df: DataFrame,
    set_col: str,
    item_col: str,
    set_a: str,
    set_b: str,
    k: int = 64,
) -> DataFrame:
    """Jaccard similarity estimate between two sets via KMV sketches.

    The intersection capability that justifies ``kmv_sketch`` over
    HLL: merge the two sets' distinct portable-md5 hash values, take
    the k smallest of the UNION, and count how many of those appear in
    BOTH sets — an unbiased estimator J ~= |both among k| / k
    (Bar-Yossef et al.; Beyer et al. "On synopses for distinct-value
    estimation").  Exact intersection/union counts are computed
    alongside (they fall out of the same hash-flag aggregate at small
    scale and serve as the audit columns).

    Shape: one distinct-shuffle on (hash) with has_a/has_b flags
    (groupBy max), one bounded top-k window, one single-row reduce.

    Returns ONE row: k_used, j_estimate (round 6), n_a, n_b,
    n_intersect, j_exact (round 6).
    """
    col = F.col(item_col) if isinstance(item_col, str) else item_col
    hv = F.conv(F.substring(F.md5(col.cast("string")), 1, 8), 16, 10).cast(
        "long"
    )
    s = F.col(set_col)
    flagged = (
        df.filter(s.isin(set_a, set_b))
        .select(hv.alias("_hv"), s.alias("_s"))
        .groupBy("_hv")
        .agg(
            F.max((F.col("_s") == set_a).cast("int")).alias("_a"),
            F.max((F.col("_s") == set_b).cast("int")).alias("_b"),
        )
    )
    w = Window.orderBy("_hv")
    topk = flagged.withColumn("_rn", F.row_number().over(w)).filter(
        F.col("_rn") <= k
    )
    sk = topk.agg(
        F.count(F.lit(1)).alias("k_used"),
        F.sum(F.col("_a") * F.col("_b")).alias("_both_k"),
    )
    exact = flagged.agg(
        F.sum("_a").alias("n_a"),
        F.sum("_b").alias("n_b"),
        F.sum(F.col("_a") * F.col("_b")).alias("n_intersect"),
        F.count(F.lit(1)).alias("_n_union"),
    )
    out = sk.crossJoin(F.broadcast(exact))
    return out.select(
        F.col("k_used").cast("long").alias("k_used"),
        F.round(
            F.col("_both_k") / F.col("k_used").cast("double"), 6
        ).alias("j_estimate"),
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        F.col("n_intersect").cast("long").alias("n_intersect"),
        F.round(
            F.col("n_intersect") / F.col("_n_union").cast("double"), 6
        ).alias("j_exact"),
    )


def theil_index(
    df: DataFrame,
    unit_col: str,
    group_col: str,
    value_col: str,
) -> DataFrame:
    """Theil T inequality index with between/within decomposition.

    What Gini cannot do: Theil's T = (1/n) sum (x/mu) ln(x/mu) is
    ADDITIVELY DECOMPOSABLE — T_total = T_between + sum_g s_g *
    T_within_g where s_g = group g's value share — so "how much of the
    load inequality is across tenants vs inside each tenant" is an
    exact split, not a heuristic.  Units with zero/negative totals are
    excluded (ln undefined; the standard convention).

    Shape: unit totals (one shuffle), group aggregates (one shuffle on
    |groups| rows), two single-row reduces.  All logs fold per-row.

    Returns ONE row: n_units, t_total, t_between, t_within (round 6).
    """
    v = F.col(value_col).cast("double")
    totals = (
        df.filter(v.isNotNull())
        .groupBy(unit_col, group_col)
        .agg(F.sum(v).alias("_x"))
        .filter(F.col("_x") > 0)
    )
    glob = totals.agg(
        F.count(F.lit(1)).alias("_n"), F.sum("_x").alias("_sx")
    )
    t = totals.crossJoin(F.broadcast(glob))
    mu = F.col("_sx") / F.col("_n")
    term = (F.col("_x") / mu) * F.log(F.col("_x") / mu)
    t_total = t.agg(
        (F.sum(term) / F.first("_n")).alias("t_total"),
        F.first("_n").alias("n_units"),
    )
    grp = (
        totals.groupBy(group_col)
        .agg(F.count(F.lit(1)).alias("_ng"), F.sum("_x").alias("_sg"))
        .crossJoin(F.broadcast(glob))
    )
    mu_g = F.col("_sg") / F.col("_ng")
    share = F.col("_sg") / F.col("_sx")
    t_between = grp.agg(
        F.sum(share * F.log(mu_g / mu)).alias("t_between")
    )
    # sum_g s_g * T_w_g telescopes to sum_i (x_i/sx) * ln(x_i*n_g/s_g)
    within_term = (
        totals.join(grp.select(group_col, "_ng", "_sg"), group_col)
        .crossJoin(F.broadcast(glob))
        .agg(
            F.sum(
                (F.col("_x") / F.col("_sx"))
                * F.log(F.col("_x") * F.col("_ng") / F.col("_sg"))
            ).alias("t_within")
        )
    )
    out = t_total.crossJoin(F.broadcast(t_between)).crossJoin(
        F.broadcast(within_term)
    )
    return out.select(
        F.col("n_units").cast("long").alias("n_units"),
        F.round("t_total", 6).alias("t_total"),
        F.round("t_between", 6).alias("t_between"),
        F.round("t_within", 6).alias("t_within"),
    )


def kaplan_meier(
    df: DataFrame,
    duration_col: str,
    event_col: str,
) -> DataFrame:
    """Kaplan-Meier survival curve over (duration, event) pairs.

    Time-to-event for telemetry cohorts ("how long until a session
    converts / a host fails"), censoring-aware: units whose event was
    never observed (event=0) leave the risk set at their censoring
    time without counting as deaths.  S(t) = prod_{t_i <= t}
    (1 - d_i / n_i) over distinct event times, computed as
    exp(cumsum(ln ...)) so both this and any SQL oracle fold the
    product in the SAME sorted order (running sums over an ordered
    window are sequential — deterministic, unlike a shuffled product).

    Shape: one groupBy on the (bucketed) duration, then a window over
    |distinct durations| rows — the caller buckets durations (e.g. to
    days) so this table is small; the fact table is never windowed.

    Returns per event time t: n_risk, n_events, n_censored,
    survival (round 6).
    """
    d = F.col(duration_col).cast("long")
    e = F.col(event_col).cast("int")
    per_t = df.groupBy(d.alias("t")).agg(
        F.sum(e).alias("d_i"),
        F.sum(1 - e).alias("c_i"),
        F.count(F.lit(1)).alias("n_at"),
    )
    w_desc = Window.orderBy(F.col("t").asc()).rowsBetween(
        Window.currentRow, Window.unboundedFollowing
    )
    w_cum = Window.orderBy(F.col("t").asc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    per_t = per_t.withColumn("n_risk", F.sum("n_at").over(w_desc))
    # floor the factor: Spark's log(0) is NULL (silently dropped from
    # the sum), so the "everyone at risk dies" terminal step would be
    # skipped instead of zeroing the curve.  ln(1e-300) ~ -690 folds
    # identically in any engine and rounds to survival 0.0.
    surv = F.exp(
        F.sum(
            F.log(
                F.greatest(
                    1.0 - F.col("d_i") / F.col("n_risk").cast("double"),
                    F.lit(1e-300),
                )
            )
        ).over(w_cum)
    )
    return per_t.select(
        F.col("t").cast("long").alias("t"),
        F.col("n_risk").cast("long").alias("n_risk"),
        F.col("d_i").cast("long").alias("n_events"),
        F.col("c_i").cast("long").alias("n_censored"),
        F.round(surv, 6).alias("survival"),
    )


def moods_median_test(
    df: DataFrame,
    group_col: str,
    value_col: str,
) -> DataFrame:
    """Mood's median test: k-group location test on a 2xk table.

    Nonparametric sibling of ``anova_oneway`` (kruskal_wallis ranks
    everything; Mood's only needs the GLOBAL median — one exact
    percentile + one contingency pass, much cheaper at 10^12 rows and
    robust to any monotone transform).  Counts above/<= the pooled
    median per group, chi2 = sum (O-E)^2/E over the 2k cells.

    Returns per group: n, n_above, expected_above (round 6),
    chi2_cell (round 6) — plus the same global chi2 repeated per row
    (column ``chi2``) so the single-number verdict needs no second
    query.
    """
    v = F.col(value_col).cast("double")
    base = df.filter(v.isNotNull()).select(group_col, v.alias("_v"))
    med = base.agg(F.expr("percentile(_v, 0.5)").alias("_med"))
    flagged = base.crossJoin(F.broadcast(med)).select(
        group_col, (F.col("_v") > F.col("_med")).cast("int").alias("_ab")
    )
    per = flagged.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("_n"), F.sum("_ab").alias("_na")
    )
    tot = per.agg(
        F.sum("_n").alias("_tn"), F.sum("_na").alias("_ta")
    )
    j = per.crossJoin(F.broadcast(tot))
    e_above = F.col("_n") * F.col("_ta") / F.col("_tn").cast("double")
    e_below = F.col("_n") * (F.col("_tn") - F.col("_ta")) / F.col(
        "_tn"
    ).cast("double")
    o_above = F.col("_na").cast("double")
    o_below = (F.col("_n") - F.col("_na")).cast("double")
    cell = (o_above - e_above) ** 2 / e_above + (
        o_below - e_below
    ) ** 2 / e_below
    j = j.withColumn("_cell", cell)
    chi2 = j.agg(F.sum("_cell").alias("_chi2"))
    return (
        j.crossJoin(F.broadcast(chi2))
        .select(
            group_col,
            F.col("_n").cast("long").alias("n"),
            F.col("_na").cast("long").alias("n_above"),
            F.round(e_above, 6).alias("expected_above"),
            F.round("_cell", 6).alias("chi2_cell"),
            F.round("_chi2", 6).alias("chi2"),
        )
    )


def welch_anova(
    df: DataFrame,
    group_col: str,
    value_col: str,
) -> DataFrame:
    """Welch's heteroscedastic one-way ANOVA (k groups).

    ``anova_oneway`` assumes equal variances; telemetry latency groups
    rarely oblige.  Welch weights each group by w_g = n_g/s_g^2:
    F* = sum w_g (m_g - m_w)^2 / (k-1) over a correction term, with
    Welch-Satterthwaite df2.  Same shape as anova_oneway: per-group
    power sums (one shuffle), single-row reduce — the group stats are
    computed once and every downstream scalar folds from them.

    Returns one row: k, df1, f_stat, df2 (round 6).
    """
    v = F.col(value_col).cast("double")
    per = (
        df.filter(v.isNotNull())
        .groupBy(group_col)
        .agg(
            F.count(F.lit(1)).cast("double").alias("_n"),
            F.sum(v).alias("_s"),
            F.sum(v * v).alias("_q"),
        )
        .filter(F.col("_n") > 1)
    )
    n = F.col("_n")
    m = F.col("_s") / n
    var = (F.col("_q") - F.col("_s") * F.col("_s") / n) / (n - 1)
    per = per.select(
        n.alias("_n"), m.alias("_m"), (n / var).alias("_w")
    )
    # totals as an unpartitioned window over the tiny per-group table —
    # NOT agg + crossJoin, which would replay the fact-scan lineage in
    # a second branch (two parquet scans at 10^12 rows)
    wall = Window.partitionBy()
    j = (
        per.withColumn("k", F.count(F.lit(1)).over(wall).cast("double"))
        .withColumn("W", F.sum("_w").over(wall))
        .withColumn("_wm", F.sum(F.col("_w") * F.col("_m")).over(wall))
    )
    mw = F.col("_wm") / F.col("W")
    num_t = F.col("_w") * (F.col("_m") - mw) * (F.col("_m") - mw)
    lam_t = (
        (1.0 - F.col("_w") / F.col("W"))
        * (1.0 - F.col("_w") / F.col("W"))
        / (F.col("_n") - 1)
    )
    red = j.agg(
        F.first("k").alias("k"),
        F.sum(num_t).alias("_num"),
        F.sum(lam_t).alias("_lam"),
    )
    k = F.col("k")
    fstat = (F.col("_num") / (k - 1)) / (
        1.0 + 2.0 * (k - 2.0) / (k * k - 1.0) * F.col("_lam")
    )
    df2 = (k * k - 1.0) / (3.0 * F.col("_lam"))
    return red.select(
        k.cast("long").alias("k"),
        (k - 1).cast("long").alias("df1"),
        F.round(fstat, 6).alias("f_stat"),
        F.round(df2, 6).alias("df2"),
    )


def count_min_sketch(
    df: DataFrame,
    item_col: str,
    depth: int = 4,
    width: int = 256,
) -> DataFrame:
    """Build a Count-Min sketch: (row j, bucket, counter) table.

    Frequency estimation with bounded memory and a one-sided error
    guarantee (never underestimates): depth x width counters, each row
    j hashing items with an independent portable hash (md5 over
    "j|item" — any engine reproduces it).  Where ``misra_gries_heavy``
    tracks only the top keys, CMS answers point queries for ANY key
    after one pass; sketches merge by cell-wise addition (the partial-
    agg law the shuffle already exploits).

    Shape: one explode to depth rows per item (Generate, JVM), one
    groupBy on (j, bucket) — the result is depth*width rows, bounded
    and broadcastable to probes.
    """
    col = F.col(item_col).cast("string")
    cells = F.array(
        *[
            F.struct(
                F.lit(j).alias("j"),
                (
                    F.conv(
                        F.substring(
                            F.md5(F.concat(F.lit(f"{j}|"), col)), 1, 8
                        ),
                        16,
                        10,
                    ).cast("long")
                    % width
                ).alias("bucket"),
            )
            for j in range(depth)
        ]
    )
    return (
        df.select(F.explode(cells).alias("_c"))
        .groupBy(
            F.col("_c.j").alias("j"), F.col("_c.bucket").alias("bucket")
        )
        .agg(F.count(F.lit(1)).alias("c"))
    )


def cms_probe(
    sketch: DataFrame,
    keys: DataFrame,
    key_col: str,
    depth: int = 4,
    width: int = 256,
) -> DataFrame:
    """Point-query a Count-Min sketch for each key: min over rows.

    The sketch (depth*width rows) broadcasts; each key computes its
    depth buckets with the same portable hash and takes the minimum
    matching counter — missing cells count 0.
    """
    col = F.col(key_col).cast("string")
    probes = keys.select(
        key_col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("j"),
                        (
                            F.conv(
                                F.substring(
                                    F.md5(
                                        F.concat(F.lit(f"{j}|"), col)
                                    ),
                                    1,
                                    8,
                                ),
                                16,
                                10,
                            ).cast("long")
                            % width
                        ).alias("bucket"),
                    )
                    for j in range(depth)
                ]
            )
        ).alias("_c"),
    ).select(key_col, "_c.j", "_c.bucket")
    joined = probes.join(F.broadcast(sketch), ["j", "bucket"], "left")
    return joined.groupBy(key_col).agg(
        F.min(F.coalesce(F.col("c"), F.lit(0))).cast("long").alias(
            "cms_estimate"
        )
    )


def weibull_fit(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
) -> DataFrame:
    """Weibull shape/scale via median-rank regression per group.

    Failure-gap distribution fitting for reliability curves: sort the
    positive durations, assign Bernard's median ranks F_i =
    (i-0.3)/(n+0.4), and regress y = ln(-ln(1-F_i)) on x = ln(t_i).
    The OLS slope IS the Weibull shape k; scale = exp(-intercept/k).
    Shape < 1 means infant mortality (decreasing hazard), > 1 wear-out
    — the distinction that decides whether retries help.

    Shape: one row_number window per group (single shuffle), then OLS
    from power sums (one groupBy).  Ties in the duration are broken
    deterministically by value order only (equal values get adjacent
    ranks; the regression is invariant to which equal value gets
    which rank).

    Returns per group: n, shape, scale, r2 (round 6).
    """
    v = F.col(value_col).cast("double")
    base = df.filter(v.isNotNull() & (v > 0)).select(
        *group_cols, v.alias("_t")
    )
    w = Window.partitionBy(*group_cols).orderBy("_t")
    ranked = base.withColumn("_i", F.row_number().over(w))
    cnt = Window.partitionBy(*group_cols)
    ranked = ranked.withColumn("_n", F.count(F.lit(1)).over(cnt))
    fi = (F.col("_i") - 0.3) / (F.col("_n") + 0.4)
    x = F.log("_t")
    y = F.log(-F.log(1.0 - fi))
    pts = ranked.select(*group_cols, x.alias("_x"), y.alias("_y"))
    agg = pts.groupBy(*group_cols).agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("_x").alias("sx"),
        F.sum("_y").alias("sy"),
        F.sum(F.col("_x") * F.col("_x")).alias("sxx"),
        F.sum(F.col("_y") * F.col("_y")).alias("syy"),
        F.sum(F.col("_x") * F.col("_y")).alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, syy, sxy = F.col("sxx"), F.col("syy"), F.col("sxy")
    cov = sxy - sx * sy / n
    varx = sxx - sx * sx / n
    vary = syy - sy * sy / n
    slope = cov / varx
    intercept = sy / n - slope * sx / n
    return agg.filter((n > 2) & (varx > 0) & (vary > 0)).select(
        *group_cols,
        n.cast("long").alias("n"),
        F.round(slope, 6).alias("shape"),
        F.round(F.exp(-intercept / slope), 6).alias("scale"),
        F.round(cov * cov / (varx * vary), 6).alias("r2"),
    )


def acf_pacf_profile(
    df: DataFrame,
    group_col: str,
    order_cols: list[str],
    value_col: str,
) -> DataFrame:
    """ACF + PACF (lags 1-3) with white-noise bands per group.

    The correlogram read before fitting anything AR-ish: sample
    autocorrelations r_1..r_3 of the mean-centered series, partial
    autocorrelations via the closed-form Durbin-Levinson recursion
    (phi11 = r1; phi22 = (r2-r1^2)/(1-r1^2); phi33 from level-2
    coefficients), and the +/-1.96/sqrt(n) whiteness band.  PACF
    cutting off at lag k while ACF decays = AR(k); the reverse = MA.

    Same shape as ``ljung_box``: one mean join-back (broadcast), ONE
    window carrying all 3 lags, one reduce; the recursion is scalar
    arithmetic on the reduced row.

    Returns per group: n, r_1..r_3, pacf_1..pacf_3, band (round 6).
    """
    v = F.col(value_col).cast("double")
    means = df.filter(v.isNotNull()).groupBy(group_col).agg(
        F.sum(v).alias("_s"), F.count(v).alias("_cnt")
    )
    j = (
        df.filter(v.isNotNull())
        .join(means, group_col)
        .withColumn("_r", v - F.col("_s") / F.col("_cnt"))
    )
    w = Window.partitionBy(group_col).orderBy(*order_cols)
    for k in (1, 2, 3):
        j = j.withColumn(f"_l{k}", F.lag("_r", k).over(w))
    a = j.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum(F.col("_r") * F.col("_r")).alias("_c0"),
        *[
            F.sum(F.col("_r") * F.col(f"_l{k}")).alias(f"_c{k}")
            for k in (1, 2, 3)
        ],
    )
    r1 = F.col("_c1") / F.col("_c0")
    r2 = F.col("_c2") / F.col("_c0")
    r3 = F.col("_c3") / F.col("_c0")
    phi11 = r1
    phi22 = (r2 - r1 * r1) / (1.0 - r1 * r1)
    phi21 = phi11 - phi22 * phi11
    phi33 = (r3 - phi21 * r2 - phi22 * r1) / (
        1.0 - phi21 * r1 - phi22 * r2
    )
    n = F.col("_n").cast("double")
    return a.select(
        group_col,
        F.col("_n").cast("long").alias("n"),
        F.round(r1, 6).alias("r_1"),
        F.round(r2, 6).alias("r_2"),
        F.round(r3, 6).alias("r_3"),
        F.round(phi11, 6).alias("pacf_1"),
        F.round(phi22, 6).alias("pacf_2"),
        F.round(phi33, 6).alias("pacf_3"),
        F.round(1.959964 / F.sqrt(n), 6).alias("band"),
    )


def granger_lag1(
    df: DataFrame,
    order_col: str,
    y_col: str,
    x_col: str,
) -> DataFrame:
    """Granger lag-1 causality of x on y via partial correlation.

    "Do click spikes PRECEDE error spikes?"  y_t is regressed on
    y_{t-1} with and without x_{t-1}; rather than solving the 3x3
    normal equations, the F-test folds through the partial correlation
    r(y_t, x_{t-1} | y_{t-1}) = (r_yx - r_ya*r_xa) /
    sqrt((1-r_ya^2)(1-r_xa^2)) — algebraically identical for a single
    added regressor — so only pairwise power sums are needed:
    F = (n-3) * r_p^2 / (1 - r_p^2), df (1, n-3).

    The input must be one row per time bucket (the caller aggregates
    the fact table first); ONE window builds both lags, one reduce
    computes every pairwise correlation.

    Returns one row: n, r_partial, f_stat (round 6) — plus the raw
    lagged correlations r_yx_lag and r_auto for diagnostics.
    """
    w = Window.orderBy(order_col)
    base = df.select(
        F.col(y_col).cast("double").alias("_y"),
        F.lag(F.col(y_col).cast("double")).over(w).alias("_a"),
        F.lag(F.col(x_col).cast("double")).over(w).alias("_b"),
    ).filter(F.col("_a").isNotNull() & F.col("_b").isNotNull())
    agg = base.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("_y").alias("sy"),
        F.sum("_a").alias("sa"),
        F.sum("_b").alias("sb"),
        F.sum(F.col("_y") * F.col("_y")).alias("syy"),
        F.sum(F.col("_a") * F.col("_a")).alias("saa"),
        F.sum(F.col("_b") * F.col("_b")).alias("sbb"),
        F.sum(F.col("_y") * F.col("_a")).alias("sya"),
        F.sum(F.col("_y") * F.col("_b")).alias("syb"),
        F.sum(F.col("_a") * F.col("_b")).alias("sab"),
    )
    n = F.col("n")

    def corr(sxy, sx, sy, sxx, syy):
        cov = sxy - sx * sy / n
        return cov / F.sqrt(
            (sxx - sx * sx / n) * (syy - sy * sy / n)
        )

    r_yb = corr(F.col("syb"), F.col("sy"), F.col("sb"), F.col("syy"), F.col("sbb"))
    r_ya = corr(F.col("sya"), F.col("sy"), F.col("sa"), F.col("syy"), F.col("saa"))
    r_ab = corr(F.col("sab"), F.col("sa"), F.col("sb"), F.col("saa"), F.col("sbb"))
    r_p = (r_yb - r_ya * r_ab) / F.sqrt(
        (1.0 - r_ya * r_ya) * (1.0 - r_ab * r_ab)
    )
    fstat = (n - 3.0) * r_p * r_p / (1.0 - r_p * r_p)
    return agg.select(
        n.cast("long").alias("n"),
        F.round(r_ya, 6).alias("r_auto"),
        F.round(r_yb, 6).alias("r_yx_lag"),
        F.round(r_p, 6).alias("r_partial"),
        F.round(fstat, 6).alias("f_stat"),
    )


def mde_two_proportion(
    df: DataFrame,
    group_col: str,
    success_col,
    alpha_z: float = 1.959964,
    beta_z: float = 0.841621,
) -> DataFrame:
    """Minimum detectable effect for a two-proportion experiment.

    Experiment sizing from live telemetry: with the observed base rate
    p and the current traffic n split 50/50, the smallest absolute
    lift detectable at alpha=.05 / power=.80 is MDE = (z_a/2 + z_b) *
    sqrt(2 p (1-p) / (n/2)).  Run BEFORE launching the A/B test — if
    MDE_rel > the effect you hope for, the test is underpowered and
    the collector should keep sampling.

    One conditional-aggregate pass per group.  Returns per group:
    n, p (round 6), mde_abs, mde_rel (round 6).
    """
    s = (
        success_col
        if not isinstance(success_col, str)
        else F.col(success_col)
    ).cast("int")
    agg = df.groupBy(group_col).agg(
        F.count(F.lit(1)).cast("double").alias("_n"),
        F.sum(s).cast("double").alias("_k"),
    )
    n, k = F.col("_n"), F.col("_k")
    p = k / n
    mde = (alpha_z + beta_z) * F.sqrt(2.0 * p * (1.0 - p) / (n / 2.0))
    return agg.filter((k > 0) & (k < n)).select(
        group_col,
        n.cast("long").alias("n"),
        F.round(p, 6).alias("p"),
        F.round(mde, 6).alias("mde_abs"),
        F.round(mde / p, 6).alias("mde_rel"),
    )


def logrank_test(
    df: DataFrame,
    group_col: str,
    duration_col: str,
    event_col: str,
) -> DataFrame:
    """Log-rank test: are two Kaplan-Meier curves the same?

    The significance companion to ``kaplan_meier``: at each distinct
    event time, group 1's observed deaths are compared with the
    hypergeometric expectation E1 = n1_t * d_t / n_t given the pooled
    risk set; chi2 = (sum(O1-E1))^2 / sum(V) with the standard
    variance V = d(n1/n)(1-n1/n)(n-d)/(n-1).  Censoring enters only
    through the risk sets.

    Shape: one groupBy on the bucketed duration (per-group death/
    censor counts as conditional sums), reverse-cumulative risk sets
    via ONE window over the small per-time table, single-row reduce.

    ``group_col`` must be 0/1.  Returns one row: n1, n2, o1, e1,
    chi2 (round 6).
    """
    d = F.col(duration_col).cast("long")
    e = F.col(event_col).cast("int")
    g = F.col(group_col).cast("int")
    per_t = df.groupBy(d.alias("t")).agg(
        F.sum(F.when(g == 1, e).otherwise(0)).alias("d1"),
        F.sum(F.when(g == 0, e).otherwise(0)).alias("d0"),
        F.sum(F.when(g == 1, 1).otherwise(0)).alias("a1"),
        F.sum(F.when(g == 0, 1).otherwise(0)).alias("a0"),
    )
    w = Window.orderBy(F.col("t").asc()).rowsBetween(
        Window.currentRow, Window.unboundedFollowing
    )
    per_t = per_t.withColumn("n1", F.sum("a1").over(w)).withColumn(
        "n0", F.sum("a0").over(w)
    )
    n = (F.col("n1") + F.col("n0")).cast("double")
    dd = (F.col("d1") + F.col("d0")).cast("double")
    e1 = F.col("n1") * dd / n
    v = F.when(
        n > 1,
        dd
        * (F.col("n1") / n)
        * (1.0 - F.col("n1") / n)
        * (n - dd)
        / (n - 1.0),
    ).otherwise(0.0)
    red = per_t.filter(dd > 0).agg(
        F.sum("d1").cast("double").alias("o1"),
        F.sum(e1).alias("e1s"),
        F.sum(v).alias("vs"),
    )
    tot = df.groupBy().agg(
        F.sum(F.when(g == 1, 1).otherwise(0)).alias("n1_tot"),
        F.sum(F.when(g == 0, 1).otherwise(0)).alias("n0_tot"),
    )
    out = red.crossJoin(F.broadcast(tot))
    return out.select(
        F.col("n1_tot").cast("long").alias("n1"),
        F.col("n0_tot").cast("long").alias("n2"),
        F.col("o1").cast("long").alias("o1"),
        F.round("e1s", 6).alias("e1"),
        F.round(
            (F.col("o1") - F.col("e1s"))
            * (F.col("o1") - F.col("e1s"))
            / F.col("vs"),
            6,
        ).alias("chi2"),
    )


def classifier_eval(
    df: DataFrame,
    score_col,
    label_col,
    threshold: float,
) -> DataFrame:
    """Threshold confusion matrix + PR/F1 + exact tie-aware AUC.

    Scores any monitor/alert rule treated as a binary classifier.
    The confusion counts fold in one conditional aggregate; AUC folds
    WITHOUT per-row ranking: group by distinct score (one shuffle on
    |distinct scores|), then AUC = sum_s pos_s * (cum_neg_below +
    neg_s/2) / (P*N) — the tie-aware trapezoid identity, exact, no
    sampling.

    Returns one row: tp/fp/fn/tn, precision, recall, f1, auc
    (round 6).
    """
    s = (
        F.col(score_col) if isinstance(score_col, str) else score_col
    ).cast("double")
    y = (
        F.col(label_col) if isinstance(label_col, str) else label_col
    ).cast("int")
    base = df.select(s.alias("_s"), y.alias("_y")).filter(
        F.col("_s").isNotNull()
    )
    conf = base.agg(
        F.sum(((F.col("_s") >= threshold) & (F.col("_y") == 1)).cast("int")).alias("tp"),
        F.sum(((F.col("_s") >= threshold) & (F.col("_y") == 0)).cast("int")).alias("fp"),
        F.sum(((F.col("_s") < threshold) & (F.col("_y") == 1)).cast("int")).alias("fn"),
        F.sum(((F.col("_s") < threshold) & (F.col("_y") == 0)).cast("int")).alias("tn"),
    )
    per_s = base.groupBy("_s").agg(
        F.sum("_y").alias("_pos"),
        F.sum(1 - F.col("_y")).alias("_neg"),
    )
    w = Window.orderBy("_s").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    per_s = per_s.withColumn(
        "_cneg_below", F.sum("_neg").over(w) - F.col("_neg")
    )
    auc_num = per_s.agg(
        F.sum(
            F.col("_pos")
            * (F.col("_cneg_below") + F.col("_neg") / 2.0)
        ).alias("_num"),
        F.sum("_pos").alias("_p"),
        F.sum("_neg").alias("_n"),
    )
    out = conf.crossJoin(F.broadcast(auc_num))
    tp, fp, fn = (
        F.col("tp").cast("double"),
        F.col("fp").cast("double"),
        F.col("fn").cast("double"),
    )
    # NULL (not an ANSI divide-by-zero error) when a denominator is
    # empty — the SQL convention, and degenerate thresholds are data.
    prec = F.when(tp + fp > 0, tp / (tp + fp))
    rec = F.when(tp + fn > 0, tp / (tp + fn))
    return out.select(
        F.col("tp").cast("long").alias("tp"),
        F.col("fp").cast("long").alias("fp"),
        F.col("fn").cast("long").alias("fn"),
        F.col("tn").cast("long").alias("tn"),
        F.round(prec, 6).alias("precision"),
        F.round(rec, 6).alias("recall"),
        F.round(
            F.when(prec + rec > 0, 2.0 * prec * rec / (prec + rec)), 6
        ).alias("f1"),
        F.round(
            F.col("_num") / (F.col("_p") * F.col("_n")).cast("double"), 6
        ).alias("auc"),
    )


def error_budget_burndown(
    df: DataFrame,
    day_col,
    total_col: str,
    error_col: str,
    slo: float = 0.99,
) -> DataFrame:
    """SLO error-budget burndown over calendar days.

    ``slo_burn_rate`` answers "how fast are we burning RIGHT NOW";
    burndown answers "how much budget is LEFT and when does it run
    out": per day, cumulative errors vs cumulative allowance
    (cum_requests * (1-slo)), remaining fraction, and a linear
    exhaustion projection (days until remaining hits zero at the
    average burn observed so far).  The page-at-2am decision needs
    both views.

    Input must already be a per-day aggregate (total, errors).  One
    ordered window over |days| rows.

    Returns per day: requests, errors, cum_errors, cum_budget,
    remaining_frac (round 6), days_to_exhaustion (round 2, NULL once
    exhausted or when nothing burns).
    """
    dcol = F.col(day_col) if isinstance(day_col, str) else day_col
    base = df.select(
        dcol.alias("day"),
        F.col(total_col).cast("long").alias("requests"),
        F.col(error_col).cast("long").alias("errors"),
    )
    w = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wn = Window.orderBy("day")
    b = (
        base.withColumn("cum_errors", F.sum("errors").over(w))
        .withColumn(
            "cum_budget",
            (F.sum("requests").over(w) * (1.0 - slo)),
        )
        .withColumn("_dayno", F.row_number().over(wn))
    )
    remaining = 1.0 - F.col("cum_errors") / F.col("cum_budget")
    daily_burn = F.col("cum_errors") / F.col("_dayno")
    daily_budget = F.col("cum_budget") / F.col("_dayno")
    days_left = F.when(
        (remaining > 0) & (daily_burn > daily_budget),
        (F.col("cum_budget") - F.col("cum_errors"))
        / (daily_burn - daily_budget),
    )
    return b.select(
        "day",
        "requests",
        "errors",
        F.col("cum_errors").cast("long").alias("cum_errors"),
        F.round("cum_budget", 6).alias("cum_budget"),
        F.round(remaining, 6).alias("remaining_frac"),
        F.round(days_left, 2).alias("days_to_exhaustion"),
    )


def morans_i(
    df: DataFrame,
    cell_col: str,
    value_col: str,
    n_cells: int,
) -> DataFrame:
    """Moran's I spatial autocorrelation on a cyclic 1-D cell grid.

    "Do adjacent hours (or adjacent shards) fail together?" — the
    lattice analog of ``durbin_watson``: I = (n/W) * sum_ij w_ij
    (x_i-m)(x_j-m) / sum(x_i-m)^2 with ring adjacency (each cell's
    neighbors are cell±1 mod n, W = 2n).  I ~ -1/(n-1) under
    randomness, -> +1 clustered, -> -1 checkerboard.

    Shape: the cell aggregate is tiny (n_cells rows); neighbor products
    fold through a self-join on (i+1) mod n — broadcast, no window.

    Returns one row: n_cells, morans_i (round 6), expected_i (round 6).
    """
    cell = (F.col(cell_col) if isinstance(cell_col, str) else cell_col).cast(
        "long"
    )
    x = F.col(value_col).cast("double")
    cells = df.select(cell.alias("_i"), x.alias("_x"))
    m = cells.agg(
        F.avg("_x").alias("_m"), F.count(F.lit(1)).alias("_n")
    )
    c = cells.crossJoin(F.broadcast(m)).select(
        "_i", (F.col("_x") - F.col("_m")).alias("_d"), "_n"
    )
    nxt = c.select(
        ((F.col("_i") + 1) % n_cells).alias("_i"),
        F.col("_d").alias("_dn"),
    )
    pairs = c.join(F.broadcast(nxt), "_i")
    red = pairs.agg(
        F.first("_n").alias("n"),
        F.sum(F.col("_d") * F.col("_dn")).alias("_cross"),
        F.sum(F.col("_d") * F.col("_d")).alias("_ss"),
    )
    n = F.col("n").cast("double")
    # ring: every cell has 2 neighbors, W = 2n; the (i,i+1) sum counts
    # each undirected pair once, so cross doubles back out: I =
    # (n / 2n) * 2*cross / ss = cross*n/(n*ss) simplified below.
    i_stat = (n / (2.0 * n)) * (2.0 * F.col("_cross")) / F.col("_ss")
    return red.select(
        F.col("n").cast("long").alias("n_cells"),
        F.round(i_stat, 6).alias("morans_i"),
        F.round(-1.0 / (n - 1.0), 6).alias("expected_i"),
    )


def cohens_kappa(
    df: DataFrame,
    a_col: str,
    b_col: str,
) -> DataFrame:
    """Cohen's kappa: chance-corrected agreement of two raters.

    The LLM-judge calibration question over transcripts: raw percent
    agreement flatters any pair of judges that both say "pass" 90% of
    the time; kappa subtracts the agreement expected from their
    marginal label rates: k = (p_o - p_e)/(1 - p_e), p_e = sum_l
    pA(l) pB(l).

    Shape: one groupBy on the label pair (|labels|^2 rows), marginals
    fold from that tiny table — the items are scanned once.

    Returns one row: n, po, pe, kappa (round 6).
    """
    pairs = df.groupBy(
        F.col(a_col).alias("_a"), F.col(b_col).alias("_b")
    ).agg(F.count(F.lit(1)).alias("_c"))
    tot = pairs.agg(F.sum("_c").alias("_n"))
    pa = pairs.groupBy("_a").agg(F.sum("_c").alias("_ca"))
    pb = pairs.groupBy("_b").agg(F.sum("_c").alias("_cb"))
    pe_t = (
        pa.join(pb, pa["_a"] == pb["_b"])
        .crossJoin(F.broadcast(tot))
        .agg(
            F.sum(
                F.col("_ca").cast("double")
                * F.col("_cb")
                / (F.col("_n").cast("double") * F.col("_n"))
            ).alias("pe")
        )
    )
    po_t = (
        pairs.filter(F.col("_a") == F.col("_b"))
        .crossJoin(F.broadcast(tot))
        .agg(
            (F.sum("_c") / F.first("_n").cast("double")).alias("po"),
            F.first("_n").alias("n"),
        )
    )
    out = po_t.crossJoin(F.broadcast(pe_t))
    return out.select(
        F.col("n").cast("long").alias("n"),
        F.round("po", 6).alias("po"),
        F.round("pe", 6).alias("pe"),
        F.round(
            (F.col("po") - F.col("pe")) / (1.0 - F.col("pe")), 6
        ).alias("kappa"),
    )


def fleiss_kappa(
    df: DataFrame,
    item_col: str,
    cat_col: str,
) -> DataFrame:
    """Fleiss' kappa: chance-corrected agreement of m raters per item.

    Generalizes ``cohens_kappa`` to a rater PANEL (3 LLM judges, 5
    human annotators): per item i and category j, n_ij votes; item
    agreement P_i = (sum_j n_ij^2 - m)/(m(m-1)); kappa = (P_bar -
    P_e)/(1 - P_e) with P_e = sum_j p_j^2 from the pooled category
    shares.  Every item must receive exactly m ratings (long-format
    input: one row per rating).

    Shape: groupBy (item, category), then (item) — both partial-agg —
    plus a tiny category-share reduce.

    Returns one row: n_items, m, p_bar, p_e, kappa (round 6).
    """
    nij = df.groupBy(
        F.col(item_col).alias("_i"), F.col(cat_col).alias("_j")
    ).agg(F.count(F.lit(1)).alias("_c"))
    per_item = nij.groupBy("_i").agg(
        F.sum("_c").alias("_m"),
        F.sum(F.col("_c") * F.col("_c")).alias("_ss"),
    )
    pbar = per_item.agg(
        F.count(F.lit(1)).alias("n_items"),
        F.first("_m").alias("m"),
        F.avg(
            (F.col("_ss") - F.col("_m")).cast("double")
            / (F.col("_m") * (F.col("_m") - 1))
        ).alias("p_bar"),
        F.sum("_m").alias("_total"),
    )
    pj = nij.groupBy("_j").agg(F.sum("_c").alias("_cj"))
    pe = pj.crossJoin(F.broadcast(pbar.select("_total"))).agg(
        F.sum(
            (F.col("_cj").cast("double") / F.col("_total"))
            * (F.col("_cj") / F.col("_total"))
        ).alias("p_e")
    )
    out = pbar.crossJoin(F.broadcast(pe))
    return out.select(
        F.col("n_items").cast("long").alias("n_items"),
        F.col("m").cast("long").alias("m"),
        F.round("p_bar", 6).alias("p_bar"),
        F.round("p_e", 6).alias("p_e"),
        F.round(
            (F.col("p_bar") - F.col("p_e")) / (1.0 - F.col("p_e")), 6
        ).alias("kappa"),
    )


def bradley_terry_ratings(
    df: DataFrame,
    winner_col: str,
    loser_col: str,
    smoothing: float = 0.5,
) -> DataFrame:
    """Bradley-Terry-style ratings from pairwise outcomes (closed form).

    Arena-style model ranking from transcript judgments: given
    (winner, loser) rows, the smoothed log-odds estimator rates each
    contestant by the mean of ln((w_ij + s)/(w_ji + s)) over its
    opponents — the non-iterative first-order BT fit (exact when every
    pair has balanced schedules; the full MM iteration refines but
    does not reorder clear splits).  Smoothing s keeps unplayed /
    swept pairs finite.

    Shape: one groupBy on the ordered pair, a union for the mirrored
    counts, one groupBy per contestant.  |contestants|^2 intermediate
    rows — tiny.

    Returns per contestant: n_wins, n_losses, rating (round 6), rank.
    """
    w = F.col(winner_col).cast("string")
    l_ = F.col(loser_col).cast("string")
    pair_w = df.select(w.alias("_a"), l_.alias("_b")).groupBy(
        "_a", "_b"
    ).agg(F.count(F.lit(1)).alias("_wins"))
    mirror = pair_w.select(
        F.col("_b").alias("_a"),
        F.col("_a").alias("_b"),
        F.col("_wins").alias("_losses"),
    )
    grid = pair_w.join(mirror, ["_a", "_b"], "full").select(
        F.coalesce(F.col("_a")).alias("_a"),
        F.coalesce(F.col("_b")).alias("_b"),
        F.coalesce(F.col("_wins"), F.lit(0)).alias("_w"),
        F.coalesce(F.col("_losses"), F.lit(0)).alias("_l"),
    )
    per = grid.groupBy("_a").agg(
        F.sum("_w").alias("n_wins"),
        F.sum("_l").alias("n_losses"),
        F.avg(
            F.log(
                (F.col("_w") + smoothing) / (F.col("_l") + smoothing)
            )
        ).alias("_rating"),
    )
    rk = Window.orderBy(F.col("_rating").desc(), F.col("_a").asc())
    return per.select(
        F.col("_a").alias("contestant"),
        F.col("n_wins").cast("long").alias("n_wins"),
        F.col("n_losses").cast("long").alias("n_losses"),
        F.round("_rating", 6).alias("rating"),
        F.row_number().over(rk).cast("long").alias("rank"),
    )


def out_of_order_audit(
    df: DataFrame,
    key_col: str,
    arrival_cols: list[str],
    event_ts_col: str,
) -> DataFrame:
    """Event-time disorder profile per key: the watermark-sizing input.

    Streaming pipelines pick watermark delays by guessing; this
    measures: within each key's ARRIVAL order, an event is late when
    its event time is behind the running max already seen — lateness =
    high-watermark minus event time.  The output (late fraction, worst
    lateness) is exactly the evidence needed to size
    ``withWatermark()`` without either dropping data or holding state
    forever.

    Shape: ONE window per key in arrival order (running max — no self
    join), then a keyed rollup.  Never a global order: disorder is
    per-source by construction, matching how watermarks advance.

    Returns per key: n, n_late, late_frac (round 6), max_late_s
    (round 3).
    """
    ts = F.col(event_ts_col).cast("timestamp_ltz").cast("double")
    w = (
        Window.partitionBy(key_col)
        .orderBy(*arrival_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    marked = df.withColumn("_hw", F.max(ts).over(w)).withColumn(
        "_late_s", F.col("_hw") - ts
    )
    return marked.groupBy(key_col).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum((F.col("_late_s") > 0).cast("int")).cast("long").alias(
            "n_late"
        ),
        F.round(
            F.sum((F.col("_late_s") > 0).cast("int"))
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("late_frac"),
        F.round(F.max("_late_s"), 3).alias("max_late_s"),
    )


def clock_drift_estimate(
    df: DataFrame,
    host_col: str,
    true_ts_col: str,
    reported_ts_col: str,
) -> DataFrame:
    """Per-host clock drift (ppm) and offset via OLS on timestamp error.

    Fleet NTP hygiene: regress (reported - true) on true time per
    host; the slope is the drift rate (reported as ppm), the intercept
    at the fleet epoch is the static offset.  ``span_clock_skew``
    corrects individual trace hops; this finds the hosts whose clocks
    are WRONG AT A RATE, which no per-span correction fixes.

    One groupBy of power sums per host — no window, no second scan.

    Returns per host: n, drift_ppm (round 3), offset_s (round 6),
    r2 (round 6).
    """

    types = dict(df.dtypes)

    def _ep(c):
        col = F.col(c)
        if types.get(c, "").startswith("timestamp"):
            return col.cast("timestamp_ltz").cast("double")
        return col.cast("double")

    x0 = df.agg(F.min(_ep(true_ts_col)).alias("_t0"))
    j = df.crossJoin(F.broadcast(x0)).select(
        F.col(host_col).alias("host"),
        (_ep(true_ts_col) - F.col("_t0")).alias("_x"),
        (_ep(reported_ts_col) - _ep(true_ts_col)).alias("_y"),
    )
    agg = j.groupBy("host").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("_x").alias("sx"),
        F.sum("_y").alias("sy"),
        F.sum(F.col("_x") * F.col("_x")).alias("sxx"),
        F.sum(F.col("_y") * F.col("_y")).alias("syy"),
        F.sum(F.col("_x") * F.col("_y")).alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    cov = F.col("sxy") - sx * sy / n
    varx = F.col("sxx") - sx * sx / n
    vary = F.col("syy") - sy * sy / n
    slope = cov / varx
    return agg.filter((n > 2) & (varx > 0)).select(
        "host",
        n.cast("long").alias("n"),
        F.round(slope * 1e6, 3).alias("drift_ppm"),
        F.round(sy / n - slope * sx / n, 6).alias("offset_s"),
        F.round(
            F.when(vary > 0, cov * cov / (varx * vary)).otherwise(1.0), 6
        ).alias("r2"),
    )


def offset_gap_audit(
    df: DataFrame,
    shard_col: str,
    offset_col: str,
) -> DataFrame:
    """Sequence-number gap audit per shard (lost-message detection).

    Kafka-style ingestion check: within each shard the offsets should
    be contiguous; every jump > 1 between consecutive PRESENT offsets
    is a loss window.  One lag window per shard (single shuffle),
    then a keyed rollup — no island materialization unless asked.

    Returns per shard: n_present, lo/hi offsets, n_gaps,
    missing_total, max_gap (longs).
    """
    o = F.col(offset_col).cast("long")
    w = Window.partitionBy(shard_col).orderBy(F.col("_o").asc())
    d = df.select(shard_col, o.alias("_o")).withColumn(
        "_gap", F.col("_o") - F.lag("_o").over(w) - 1
    )
    return d.groupBy(shard_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_present"),
        F.min("_o").alias("lo"),
        F.max("_o").alias("hi"),
        F.sum((F.col("_gap") > 0).cast("int")).cast("long").alias(
            "n_gaps"
        ),
        F.coalesce(
            F.sum(F.when(F.col("_gap") > 0, F.col("_gap"))), F.lit(0)
        ).cast("long").alias("missing_total"),
        F.coalesce(F.max(F.when(F.col("_gap") > 0, F.col("_gap"))), F.lit(0))
        .cast("long")
        .alias("max_gap"),
    )


def ohlc_candles(
    df: DataFrame,
    group_cols: list[str],
    bucket_col,
    order_cols: list[str],
    value_col: str,
    volume_col=None,
) -> DataFrame:
    """OHLC + VWAP candles per group and time bucket.

    The lossy-but-faithful downsampling alongside ``m4_downsample``:
    open/close are the FIRST/LAST values in event order (windows with
    explicit order columns — never ``first()`` on an unordered
    aggregate, which is nondeterministic under shuffle), high/low are
    min/max, VWAP weights by the volume column (1 when absent).

    One window + one groupBy, both on the same (group, bucket) key —
    co-partitioned, a single shuffle.

    Returns per (group, bucket): n, open, high, low, close, vwap
    (round 6).
    """
    b = bucket_col if not isinstance(bucket_col, str) else F.col(bucket_col)
    v = F.col(value_col).cast("double")
    vol = (
        F.lit(1.0)
        if volume_col is None
        else (
            F.col(volume_col)
            if isinstance(volume_col, str)
            else volume_col
        ).cast("double")
    )
    base = df.select(
        *group_cols, b.alias("bucket"), v.alias("_v"), vol.alias("_w"),
        *[F.col(c).alias(f"_o{i}") for i, c in enumerate(order_cols)],
    )
    ocols = [F.col(f"_o{i}") for i in range(len(order_cols))]
    w = Window.partitionBy(*group_cols, "bucket").orderBy(*ocols)
    wfull = w.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    marked = base.withColumn(
        "_open", F.first("_v").over(wfull)
    ).withColumn("_close", F.last("_v").over(wfull))
    return marked.groupBy(*group_cols, "bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.first("_open").alias("open"),
        F.max("_v").alias("high"),
        F.min("_v").alias("low"),
        F.first("_close").alias("close"),
        F.round(
            F.sum(F.col("_v") * F.col("_w")) / F.sum("_w"), 6
        ).alias("vwap"),
    )


def maxmin_waterfill(
    df: DataFrame,
    tenant_col: str,
    demand_col: str,
    capacity: float,
) -> DataFrame:
    """Max-min fair (water-filling) allocation of capacity to demands.

    The rate-limiter policy question ``jain_fairness`` only measures:
    given per-tenant demands and a shared capacity C, the max-min
    allocation satisfies every demand below the water level theta and
    caps the rest AT theta, where sum(min(d_i, theta)) = C.  Closed
    form over SORTED demands: tenant i (ascending, prefix sum P) is
    satisfiable iff P_{i-1} + d_i*(n-i+1) <= C; theta = (C - P_k) /
    (n - k) for the largest satisfiable k.

    Shape: the demands table is per-tenant (already aggregated —
    bounded); one ordered window for rank+prefix, one scalar reduce
    for theta, one broadcast join back.  No iteration: water-filling
    telescopes into prefix sums.

    Returns per tenant: demand (round 6), allocation (round 6),
    satisfied.
    """
    d = F.col(demand_col).cast("double")
    t = df.select(F.col(tenant_col).alias("tenant"), d.alias("_d"))
    w = Window.orderBy(F.col("_d").asc(), F.col("tenant").asc())
    ranked = (
        t.withColumn("_i", F.row_number().over(w))
        .withColumn(
            "_p",
            F.sum("_d").over(
                w.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
    )
    tot = ranked.agg(F.count(F.lit(1)).alias("_n"))
    r = ranked.crossJoin(F.broadcast(tot))
    feasible = (
        F.col("_p") - F.col("_d") + F.col("_d") * (F.col("_n") - F.col("_i") + 1)
        <= capacity
    )
    r = r.withColumn("_feas", feasible)
    krow = r.filter("_feas").agg(
        F.max("_i").alias("_k"), F.max(F.when(F.col("_feas"), F.col("_p"))).alias("_pk")
    )
    level = r.crossJoin(F.broadcast(krow)).withColumn(
        "_theta",
        F.when(
            F.col("_k").isNull(),
            F.lit(capacity) / F.col("_n"),
        ).otherwise(
            F.when(
                F.col("_n") > F.col("_k"),
                (F.lit(capacity) - F.col("_pk"))
                / (F.col("_n") - F.col("_k")),
            ).otherwise(F.lit(float("inf")))
        ),
    )
    return level.select(
        "tenant",
        F.round("_d", 6).alias("demand"),
        F.round(F.least(F.col("_d"), F.col("_theta")), 6).alias(
            "allocation"
        ),
        (F.col("_d") <= F.col("_theta")).alias("satisfied"),
    )


def sax_words(
    df: DataFrame,
    group_col: str,
    order_cols: list[str],
    value_col: str,
    segments: int = 8,
) -> DataFrame:
    """SAX symbolization (PAA + breakpoint alphabet) per series.

    Time-series indexing for "which services have the same hourly
    SHAPE": z-normalize each group's series, average it into
    ``segments`` equal-count PAA frames (ntile over event order), and
    map each frame mean to one of 4 symbols at the standard Gaussian
    quartile breakpoints (-0.6745, 0, 0.6745) — Lin et al.'s SAX.
    Equal words = candidate shape duplicates, at 8 characters per
    series instead of the raw points.

    One stats join-back (broadcast), one ntile window, one groupBy,
    one ordered string_agg over |segments| rows per group.

    Returns per group: n, sax_word.
    """
    v = F.col(value_col).cast("double")
    stats = df.filter(v.isNotNull()).groupBy(group_col).agg(
        F.sum(v).alias("_s"),
        F.sum(v * v).alias("_q"),
        F.count(v).alias("_n"),
    )
    sd = F.sqrt(
        (F.col("_q") - F.col("_s") * F.col("_s") / F.col("_n"))
        / (F.col("_n") - 1)
    )
    j = (
        df.filter(v.isNotNull())
        .join(stats, group_col)
        .withColumn("_z", (v - F.col("_s") / F.col("_n")) / sd)
    )
    w = Window.partitionBy(group_col).orderBy(*order_cols)
    j = j.withColumn("_seg", F.ntile(segments).over(w))
    paa = j.groupBy(group_col, "_seg").agg(
        F.avg("_z").alias("_m"), F.count(F.lit(1)).alias("_c")
    )
    sym = (
        F.when(F.col("_m") < -0.6745, "a")
        .when(F.col("_m") < 0.0, "b")
        .when(F.col("_m") < 0.6745, "c")
        .otherwise("d")
    )
    word = paa.withColumn("_sym", sym).groupBy(group_col).agg(
        F.sum("_c").cast("long").alias("n"),
        F.concat_ws(
            "",
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("_seg"), F.col("_sym")))
                ),
                lambda s: s["_sym"],
            ),
        ).alias("sax_word"),
    )
    return word


def naive_bayes_eval(
    df: DataFrame,
    feature_cols: list[str],
    label_col: str,
    split_col,
    alpha: float = 1.0,
) -> DataFrame:
    """Categorical Naive Bayes: train on one split, score the other.

    The "can cheap features predict the error label" baseline, fully
    in aggregates: per-class priors and per-(feature, value, class)
    Laplace-smoothed likelihoods are COUNT tables (tiny — bounded by
    the categorical cardinalities), broadcast-joined back onto the
    held-out split where the per-row score is a sum of log ratios.
    No gradient loop, no collect of facts.

    ``split_col`` boolean: true = train row, false = test row.
    ``label_col`` boolean-ish (binary NB).

    Returns one row: n_train, n_test, tp/fp/fn/tn, accuracy (round 6).
    """
    y = (
        F.col(label_col) if isinstance(label_col, str) else label_col
    ).cast("int")
    s = split_col if not isinstance(split_col, str) else F.col(split_col)
    base = df.select(
        *[F.col(c).cast("string").alias(c) for c in feature_cols],
        y.alias("_y"),
        s.alias("_train"),
    )
    train = base.filter(F.col("_train"))
    test = base.filter(~F.col("_train"))
    pri = train.groupBy("_y").agg(F.count(F.lit(1)).alias("_cy"))
    n_tr = train.agg(F.count(F.lit(1)).alias("_nt"))
    scored = test
    for c in feature_cols:
        lik = train.groupBy(c, "_y").agg(
            F.count(F.lit(1)).alias(f"_c_{c}")
        )
        vals = train.agg(
            F.countDistinct(c).cast("double").alias(f"_v_{c}")
        )
        lik = (
            lik.join(pri.withColumnRenamed("_cy", f"_cy_{c}"), "_y")
            .crossJoin(F.broadcast(vals))
        )
        l1 = lik.filter(F.col("_y") == 1).select(
            c,
            F.log(
                (F.col(f"_c_{c}") + alpha)
                / (F.col(f"_cy_{c}") + alpha * F.col(f"_v_{c}"))
            ).alias(f"_ll1_{c}"),
            F.col(f"_v_{c}").alias(f"_vv1_{c}"),
            F.col(f"_cy_{c}").alias(f"_cc1_{c}"),
        )
        l0 = lik.filter(F.col("_y") == 0).select(
            c,
            F.log(
                (F.col(f"_c_{c}") + alpha)
                / (F.col(f"_cy_{c}") + alpha * F.col(f"_v_{c}"))
            ).alias(f"_ll0_{c}"),
            F.col(f"_v_{c}").alias(f"_vv0_{c}"),
            F.col(f"_cy_{c}").alias(f"_cc0_{c}"),
        )
        scored = scored.join(F.broadcast(l1), c, "left").join(
            F.broadcast(l0), c, "left"
        )
        # unseen feature value in train: back off to the smoothed
        # floor alpha / (class count + alpha * |values|)
        uv = F.broadcast(
            pri.crossJoin(vals).select(
                "_y",
                F.log(
                    alpha / (F.col("_cy") + alpha * F.col(f"_v_{c}"))
                ).alias("_fl"),
            )
        )
        fl1 = uv.filter(F.col("_y") == 1).select(
            F.col("_fl").alias(f"_fl1_{c}")
        )
        fl0 = uv.filter(F.col("_y") == 0).select(
            F.col("_fl").alias(f"_fl0_{c}")
        )
        scored = scored.crossJoin(F.broadcast(fl1)).crossJoin(
            F.broadcast(fl0)
        )
        scored = scored.withColumn(
            f"_s1_{c}", F.coalesce(F.col(f"_ll1_{c}"), F.col(f"_fl1_{c}"))
        ).withColumn(
            f"_s0_{c}", F.coalesce(F.col(f"_ll0_{c}"), F.col(f"_fl0_{c}"))
        )
    pri_w = pri.crossJoin(F.broadcast(n_tr))
    p1 = pri_w.filter(F.col("_y") == 1).select(
        F.log(F.col("_cy") / F.col("_nt").cast("double")).alias("_lp1"),
        F.col("_cy").alias("_n1"),
    )
    p0 = pri_w.filter(F.col("_y") == 0).select(
        F.log(F.col("_cy") / F.col("_nt").cast("double")).alias("_lp0"),
        F.col("_cy").alias("_n0"),
    )
    scored = scored.crossJoin(F.broadcast(p1)).crossJoin(F.broadcast(p0))
    s1 = F.col("_lp1") + sum(F.col(f"_s1_{c}") for c in feature_cols)
    s0 = F.col("_lp0") + sum(F.col(f"_s0_{c}") for c in feature_cols)
    pred = (s1 > s0).cast("int")
    agg = scored.agg(
        F.count(F.lit(1)).alias("n_test"),
        F.sum(((pred == 1) & (F.col("_y") == 1)).cast("int")).alias("tp"),
        F.sum(((pred == 1) & (F.col("_y") == 0)).cast("int")).alias("fp"),
        F.sum(((pred == 0) & (F.col("_y") == 1)).cast("int")).alias("fn"),
        F.sum(((pred == 0) & (F.col("_y") == 0)).cast("int")).alias("tn"),
        F.first("_n1").alias("_n1"),
        F.first("_n0").alias("_n0"),
    )
    return agg.select(
        (F.col("_n1") + F.col("_n0")).cast("long").alias("n_train"),
        F.col("n_test").cast("long").alias("n_test"),
        F.col("tp").cast("long").alias("tp"),
        F.col("fp").cast("long").alias("fp"),
        F.col("fn").cast("long").alias("fn"),
        F.col("tn").cast("long").alias("tn"),
        F.round(
            (F.col("tp") + F.col("tn")) / F.col("n_test").cast("double"),
            6,
        ).alias("accuracy"),
    )


def decision_stump_gains(
    df: DataFrame,
    feature_cols: list[str],
    label_col,
) -> DataFrame:
    """Information gain of each candidate attribute on a binary label.

    The 1-level decision tree / feature-importance ranking: IG(f) =
    H(y) - sum_v p(v) H(y|f=v).  Each feature costs one groupBy on
    (value, label) — tables bounded by categorical cardinality — and
    the entropies fold from counts.  Rank 1 = the attribute a stump
    would split on.

    Returns per feature: n_values, h_label (round 6), h_cond
    (round 6), info_gain (round 6), rank.
    """
    y = (
        F.col(label_col) if isinstance(label_col, str) else label_col
    ).cast("int")
    base = df.select(
        *[F.col(c).cast("string").alias(c) for c in feature_cols],
        y.alias("_y"),
    )
    tot = base.agg(
        F.count(F.lit(1)).cast("double").alias("_n"),
        F.sum("_y").cast("double").alias("_n1"),
    )

    def h(p):  # binary entropy in bits, 0 at the edges
        return F.when(
            (p > 0) & (p < 1),
            -(p * F.log2(p) + (1 - p) * F.log2(1 - p)),
        ).otherwise(0.0)

    outs = []
    for c in feature_cols:
        per = base.groupBy(c).agg(
            F.count(F.lit(1)).cast("double").alias("_nv"),
            F.sum("_y").cast("double").alias("_nv1"),
        )
        cond = per.crossJoin(F.broadcast(tot)).agg(
            F.lit(c).alias("feature"),
            F.count(F.lit(1)).cast("long").alias("n_values"),
            F.round(F.first(h(F.col("_n1") / F.col("_n"))), 6).alias(
                "h_label"
            ),
            F.round(
                F.sum(
                    (F.col("_nv") / F.col("_n"))
                    * h(F.col("_nv1") / F.col("_nv"))
                ),
                6,
            ).alias("h_cond"),
        )
        outs.append(cond)
    res = outs[0]
    for o in outs[1:]:
        res = res.unionByName(o)
    res = res.withColumn(
        "info_gain", F.round(F.col("h_label") - F.col("h_cond"), 6)
    )
    rk = Window.orderBy(F.col("info_gain").desc(), F.col("feature").asc())
    return res.withColumn(
        "rank", F.row_number().over(rk).cast("long")
    )


def mahalanobis_2d(
    df: DataFrame,
    group_col: str,
    x_col,
    y_col,
    threshold_d2: float = 13.815511,
) -> DataFrame:
    """Two-feature Mahalanobis outlier flags per group (closed form).

    Joint outliers that neither marginal z-score catches (high value
    AND unusual dimension k together): d^2 = (x-mu)' S^-1 (x-mu) with
    the 2x2 sample covariance inverted in closed form — no matrix
    library, no iteration.  Default threshold = chi2(2) at 99.9%.

    One power-sum pass for the per-group moments (broadcast back),
    one scoring pass — two scans total, no window.

    Returns per group: n, n_outliers, max_d2 (round 4).
    """
    x = (F.col(x_col) if isinstance(x_col, str) else x_col).cast("double")
    yv = (F.col(y_col) if isinstance(y_col, str) else y_col).cast("double")
    base = df.select(
        F.col(group_col).alias("_g"), x.alias("_x"), yv.alias("_yv")
    ).filter(F.col("_x").isNotNull() & F.col("_yv").isNotNull())
    m = base.groupBy("_g").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("_x").alias("sx"),
        F.sum("_yv").alias("sy"),
        F.sum(F.col("_x") * F.col("_x")).alias("sxx"),
        F.sum(F.col("_yv") * F.col("_yv")).alias("syy"),
        F.sum(F.col("_x") * F.col("_yv")).alias("sxy"),
    )
    j = base.join(F.broadcast(m), "_g")
    n = F.col("n")
    vx = (F.col("sxx") - F.col("sx") * F.col("sx") / n) / (n - 1)
    vy = (F.col("syy") - F.col("sy") * F.col("sy") / n) / (n - 1)
    cv = (F.col("sxy") - F.col("sx") * F.col("sy") / n) / (n - 1)
    det = vx * vy - cv * cv
    dx = F.col("_x") - F.col("sx") / n
    dy = F.col("_yv") - F.col("sy") / n
    d2 = (vy * dx * dx - 2 * cv * dx * dy + vx * dy * dy) / det
    return (
        j.withColumn("_d2", d2)
        .groupBy(F.col("_g").alias(group_col))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum((F.col("_d2") > threshold_d2).cast("int"))
            .cast("long")
            .alias("n_outliers"),
            F.round(F.max("_d2"), 4).alias("max_d2"),
        )
    )


def poisson_rate_ratio(
    df: DataFrame,
    group_col: str,
    ts_col: str,
    event_pred,
    split_epoch: float,
) -> DataFrame:
    """Two-period Poisson rate-ratio test per group.

    "Did the error RATE change after the deploy" done right: counts
    alone mislead when the observation windows differ, so each
    period's count is normalized by its exposure time and the Wald
    z-statistic on the log rate ratio uses se = sqrt(1/c1 + 1/c2).
    One conditional-aggregate pass.

    Returns per group: c1, c2, exposure1_s, exposure2_s (round 3),
    rate_ratio (round 6), z (round 6).  Groups with a zero count in
    either period are dropped (log undefined).
    """
    t = F.col(ts_col).cast("timestamp_ltz").cast("double")
    e = event_pred.cast("int")
    agg = df.groupBy(group_col).agg(
        F.sum(F.when(t < split_epoch, e)).alias("c1"),
        F.sum(F.when(t >= split_epoch, e)).alias("c2"),
        (F.lit(split_epoch) - F.min(t)).alias("e1"),
        (F.max(t) - F.lit(split_epoch)).alias("e2"),
    )
    c1, c2 = F.col("c1").cast("double"), F.col("c2").cast("double")
    r1 = c1 / F.col("e1")
    r2 = c2 / F.col("e2")
    ratio = r2 / r1
    z = F.log(ratio) / F.sqrt(1.0 / c1 + 1.0 / c2)
    return agg.filter((c1 > 0) & (c2 > 0)).select(
        group_col,
        F.col("c1").cast("long").alias("c1"),
        F.col("c2").cast("long").alias("c2"),
        F.round("e1", 3).alias("exposure1_s"),
        F.round("e2", 3).alias("exposure2_s"),
        F.round(ratio, 6).alias("rate_ratio"),
        F.round(z, 6).alias("z"),
    )


def huber_one_step(
    df: DataFrame,
    group_col: str,
    value_col: str,
    k: float = 1.345,
) -> DataFrame:
    """One-step Huber M-estimator of location per group.

    The robust mean between ``trimmed_means`` and full IRLS: start at
    the exact median with MAD scale, apply ONE Huber reweighting
    (w = min(1, k*s/|x-m0|)) and take the weighted mean.  One step
    from the median already achieves most of the efficiency gain and
    keeps the operator non-iterative — a deliberate trade documented
    against the full IRLS loop.

    Two passes: exact median+MAD (percentile aggregates), then the
    weighted mean with the scalars broadcast back.

    Returns per group: n, m0 (median), scale_mad, m1 (round 6),
    frac_downweighted (round 6).
    """
    v = F.col(value_col).cast("double")
    base = df.filter(v.isNotNull()).select(
        F.col(group_col).alias("_g"), v.alias("_v")
    )
    med = base.groupBy("_g").agg(
        F.expr("percentile(_v, 0.5)").alias("_m0")
    )
    j0 = base.join(F.broadcast(med), "_g")
    mad = j0.groupBy("_g").agg(
        F.expr("percentile(abs(_v - _m0), 0.5)").alias("_s"),
        F.first("_m0").alias("_m0"),
    )
    j = base.join(F.broadcast(mad), "_g")
    w = F.when(
        F.abs(F.col("_v") - F.col("_m0")) <= k * F.col("_s"), F.lit(1.0)
    ).otherwise(
        k * F.col("_s") / F.abs(F.col("_v") - F.col("_m0"))
    )
    out = j.withColumn("_w", w).groupBy("_g").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.first("_m0").alias("_m0v"),
        F.first("_s").alias("_sv"),
        F.round(
            F.sum(F.col("_w") * F.col("_v")) / F.sum("_w"), 6
        ).alias("m1"),
        F.round(
            F.sum((F.col("_w") < 1.0).cast("int"))
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("frac_downweighted"),
    )
    return out.select(
        F.col("_g").alias(group_col),
        "n",
        F.round("_m0v", 6).alias("m0"),
        F.round("_sv", 6).alias("scale_mad"),
        "m1",
        "frac_downweighted",
    )


def count_distribution_diagnostics(
    nonzero_counts: DataFrame,
    group_col: str,
    count_col: str,
    cell_totals: DataFrame,
    total_col: str = "n_cells",
) -> DataFrame:
    """Poisson-ness diagnostics of per-unit event counts per group.

    Before fitting any count model to "events per user per day",
    check the three classic failure modes in ONE pass over the unit
    counts: overdispersion (variance/mean ratio and the implied
    negative-binomial size r = m^2/(v-m)), zero-inflation (observed
    zero share vs the Poisson-expected e^-m), and a dispersion
    summary.

    Grid-free: the statistics are defined over the COMPLETE unit grid
    (every (user, day) cell including zeros) — at 10^9 users x 10^3
    days a 10^12-row crossJoin just to represent zeros.  But zero
    cells are pure arithmetic: with ``n`` total cells per group
    (supplied via ``cell_totals``; typically n_units x n_buckets) and
    power sums over only the NONZERO cells (zeros contribute exactly
    0.0 to both s and q, and integer counts sum exactly in doubles),
    the zero-cell count is ``z = n - n_nonzero`` and every diagnostic
    follows from (n, s, q, z) — the same float arithmetic as a fold
    over the dense grid, with no grid and no left join.

    ``cell_totals``: per-group total cell counts (group_col,
    total_col); groups absent from ``nonzero_counts`` fold to
    all-zero cells.

    Returns per group: n_units, mean, var, dispersion_ratio,
    nb_size_r (NULL when not overdispersed), zero_frac,
    poisson_zero_frac (all round 6).
    """
    c = F.col(count_col).cast("double")
    nz = nonzero_counts.groupBy(group_col).agg(
        F.count(F.lit(1)).cast("double").alias("_nnz"),
        F.sum(c).alias("_s"),
        F.sum(c * c).alias("_q"),
    )
    agg = cell_totals.join(nz, group_col, "left").select(
        group_col,
        F.col(total_col).cast("double").alias("_n"),
        F.coalesce("_s", F.lit(0.0)).alias("_s"),
        F.coalesce("_q", F.lit(0.0)).alias("_q"),
        (
            F.col(total_col).cast("double")
            - F.coalesce("_nnz", F.lit(0.0))
        ).alias("_z"),
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


def gamma_moments_fit(
    df: DataFrame,
    group_col: str,
    value_col: str,
) -> DataFrame:
    """Gamma(shape, rate) fit by method of moments per group.

    Latency distributions are right-skewed; the two-moment Gamma fit
    (shape k = m^2/v, rate = m/v) is the closed-form baseline against
    which MLE refinements are judged, and its shape parameter is the
    interpretable one: k < 1 = hyperexponential mixture (two regimes),
    k >> 1 = near-normal.  Positive values only; one power-sum pass.

    Returns per group: n, mean, var, shape, rate (round 6).
    """
    v = F.col(value_col).cast("double")
    agg = (
        df.filter(v.isNotNull() & (v > 0))
        .groupBy(group_col)
        .agg(
            F.count(F.lit(1)).cast("double").alias("_n"),
            F.sum(v).alias("_s"),
            F.sum(v * v).alias("_q"),
        )
        .filter(F.col("_n") > 1)
    )
    n, s, q = F.col("_n"), F.col("_s"), F.col("_q")
    m = s / n
    var = (q - s * s / n) / (n - 1)
    return agg.filter(var > 0).select(
        group_col,
        n.cast("long").alias("n"),
        F.round(m, 6).alias("mean"),
        F.round(var, 6).alias("var"),
        F.round(m * m / var, 6).alias("shape"),
        F.round(m / var, 6).alias("rate"),
    )


def burstiness_memory(
    df: DataFrame,
    unit_col: str,
    bucket_col,
    ts_col: str,
) -> DataFrame:
    """Goh-Barabási burstiness B and memory M of inter-arrival gaps.

    Two numbers that separate bursty-from-periodic traffic where a
    Fano factor alone cannot: B = (sigma - mu)/(sigma + mu) over the
    per-unit inter-arrival gaps (-1 periodic, 0 Poisson, ->1 bursty)
    and M = corr(gap_t, gap_{t+1}) (positive = long gaps follow long
    gaps).  Gaps and their lag are windows WITHIN each unit; the
    statistics pool per bucket.

    Returns per bucket: n_gaps, burstiness_b (round 6), memory_m
    (round 6).
    """
    t = F.col(ts_col).cast("timestamp_ltz").cast("double")
    b = bucket_col if not isinstance(bucket_col, str) else F.col(bucket_col)
    w = Window.partitionBy(unit_col).orderBy(t.asc())
    step1 = df.select(
        F.col(unit_col).alias("_u"),
        b.alias("bucket"),
        t.alias("_t"),
        (t - F.lag(t).over(w)).alias("_g"),
    )
    w2 = Window.partitionBy("_u").orderBy(F.col("_t").asc())
    gaps = step1.withColumn("_gp", F.lag("_g").over(w2)).filter(
        F.col("_g").isNotNull()
    )
    agg = gaps.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("_g").alias("sg"),
        F.sum(F.col("_g") * F.col("_g")).alias("sgg"),
        F.count("_gp").cast("double").alias("np"),
        F.sum(F.when(F.col("_gp").isNotNull(), F.col("_g"))).alias("sx"),
        F.sum(F.when(F.col("_gp").isNotNull(), F.col("_g") * F.col("_g"))).alias("sxx"),
        F.sum("_gp").alias("sy"),
        F.sum(F.col("_gp") * F.col("_gp")).alias("syy"),
        F.sum(F.col("_g") * F.col("_gp")).alias("sxy"),
    )
    n = F.col("n")
    mu = F.col("sg") / n
    sd = F.sqrt((F.col("sgg") - F.col("sg") * F.col("sg") / n) / (n - 1))
    np_ = F.col("np")
    cov = F.col("sxy") - F.col("sx") * F.col("sy") / np_
    vx = F.col("sxx") - F.col("sx") * F.col("sx") / np_
    vy = F.col("syy") - F.col("sy") * F.col("sy") / np_
    return agg.filter((n > 2) & (np_ > 2)).select(
        F.col("bucket").cast("long").alias("bucket"),
        n.cast("long").alias("n_gaps"),
        F.round((sd - mu) / (sd + mu), 6).alias("burstiness_b"),
        # NULL, not a divide-by-zero error, for a constant gap series
        F.round(
            F.when((vx > 0) & (vy > 0), cov / F.sqrt(vx * vy)), 6
        ).alias("memory_m"),
    )


def hedge_effectiveness(
    df: DataFrame,
    group_col: str,
    value_col: str,
    q: float = 0.99,
) -> DataFrame:
    """Tail-latency win from request hedging, from the empirical CDF.

    Dean & Barroso ("The Tail at Scale"): issuing a second copy of a
    request and taking the first response turns the latency CDF F into
    1-(1-F)^2, so the hedged q-quantile equals the PLAIN quantile at
    1 - sqrt(1-q) — p99 hedged = p90 plain.  No simulation needed:
    both quantiles come from the same exact percentile aggregate, and
    the ratio is the infrastructure-cost conversation in one number
    (assumes independent replicas — stated, since correlated slowness
    breaks it).

    Returns per group: n, q_plain, q_hedged (round 6), improvement
    (plain/hedged, round 6).
    """
    v = F.col(value_col).cast("double")
    hq = 1.0 - (1.0 - q) ** 0.5
    agg = df.filter(v.isNotNull()).groupBy(group_col).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.expr(f"percentile({value_col}, {q!r})").alias("_qp"),
        F.expr(f"percentile({value_col}, {hq!r})").alias("_qh"),
    )
    return agg.select(
        group_col,
        "n",
        F.round("_qp", 6).alias("q_plain"),
        F.round("_qh", 6).alias("q_hedged"),
        F.round(F.col("_qp") / F.col("_qh"), 6).alias("improvement"),
    )


def split_conformal(
    df: DataFrame,
    group_col: str,
    value_col: str,
    split_pred,
    alpha: float = 0.1,
) -> DataFrame:
    """Split-conformal prediction interval around the group mean.

    Distribution-free coverage guarantee for alert bands: predict with
    the calibration-split mean, take the ceil((n+1)(1-alpha))-th
    smallest absolute residual as the half-width q_hat, and the
    interval mean +/- q_hat covers future points with probability >=
    1-alpha REGARDLESS of the value distribution (exchangeability
    only).  The held-out coverage column is the empirical audit.

    ``split_pred`` boolean: true = calibration row, false = test row.
    Shape: calibration means + residual order statistic (one window on
    the calibration slice), broadcast to the test slice.

    Returns per group: n_cal, n_test, q_hat (round 6), coverage
    (round 6).
    """
    v = F.col(value_col).cast("double")
    base = df.filter(v.isNotNull()).select(
        F.col(group_col).alias("_g"), v.alias("_v"), split_pred.alias("_c")
    )
    cal = base.filter(F.col("_c"))
    test = base.filter(~F.col("_c"))
    means = cal.groupBy("_g").agg(
        F.avg("_v").alias("_m"), F.count(F.lit(1)).alias("_nc")
    )
    resid = cal.join(F.broadcast(means), "_g").select(
        "_g", F.abs(F.col("_v") - F.col("_m")).alias("_r"), "_nc"
    )
    w = Window.partitionBy("_g").orderBy(F.col("_r").asc())
    k = F.ceil((F.col("_nc") + 1) * (1.0 - alpha)).cast("long")
    qhat = (
        resid.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == F.least(k, F.col("_nc")))
        .select("_g", F.col("_r").alias("_qhat"))
    )
    scored = test.join(F.broadcast(means), "_g").join(
        F.broadcast(qhat), "_g"
    )
    return scored.groupBy(F.col("_g").alias(group_col)).agg(
        F.first("_nc").cast("long").alias("n_cal"),
        F.count(F.lit(1)).cast("long").alias("n_test"),
        F.round(F.first("_qhat"), 6).alias("q_hat"),
        F.round(
            F.sum(
                (
                    F.abs(F.col("_v") - F.col("_m")) <= F.col("_qhat")
                ).cast("int")
            )
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("coverage"),
    )


def burrows_delta(
    df: DataFrame,
    source_col: str,
    text_col: str,
    top_n: int = 15,
) -> DataFrame:
    """Burrows' Delta stylometric distance between sources.

    Authorship/provenance drift for corpus slices: restrict to the
    corpus-wide top-N words (function words dominate — the stylometric
    signal), compute per-source RELATIVE frequencies, z-score each
    word across sources, and Delta(a,b) = mean |z_a - z_b|.  Low Delta
    = same "voice"; a source whose Delta to every other source jumps
    is a contamination/provenance flag.

    Shape: tokenize once, one word-count shuffle, top-N by global
    count (deterministic word tie-break), z over the |sources| x N
    table, pairwise deltas on that tiny table.

    Returns per source pair (a < b): n_words, delta (round 6).
    """
    toks = df.select(
        F.col(source_col).alias("_s"),
        F.explode(
            F.filter(
                F.split(F.lower(F.col(text_col)), r"\s+"),
                lambda x: x != "",
            )
        ).alias("_w"),
    )
    glob = toks.groupBy("_w").agg(F.count(F.lit(1)).alias("_gc"))
    wtop = Window.orderBy(F.col("_gc").desc(), F.col("_w").asc())
    top = glob.withColumn("_rn", F.row_number().over(wtop)).filter(
        F.col("_rn") <= top_n
    ).select("_w")
    per_src_tot = toks.groupBy("_s").agg(
        F.count(F.lit(1)).alias("_tot")
    )
    freq = (
        toks.join(F.broadcast(top), "_w")
        .groupBy("_s", "_w")
        .agg(F.count(F.lit(1)).alias("_c"))
        .join(per_src_tot, "_s")
        .select(
            "_s", "_w", (F.col("_c") / F.col("_tot")).alias("_f")
        )
    )
    stats = freq.groupBy("_w").agg(
        F.avg("_f").alias("_mf"),
        F.stddev_samp("_f").alias("_sf"),
    )
    z = freq.join(F.broadcast(stats), "_w").select(
        "_s",
        "_w",
        ((F.col("_f") - F.col("_mf")) / F.col("_sf")).alias("_z"),
    )
    a = z.select(
        F.col("_s").alias("src_a"), "_w", F.col("_z").alias("_za")
    )
    b = z.select(
        F.col("_s").alias("src_b"), "_w", F.col("_z").alias("_zb")
    )
    pairs = a.join(b, "_w").filter(F.col("src_a") < F.col("src_b"))
    return pairs.groupBy("src_a", "src_b").agg(
        F.count(F.lit(1)).cast("long").alias("n_words"),
        F.round(F.avg(F.abs(F.col("_za") - F.col("_zb"))), 6).alias(
            "delta"
        ),
    )


def lin_ccc(
    df: DataFrame,
    group_col: str,
    x_col,
    y_col,
) -> DataFrame:
    """Lin's concordance correlation between two continuous measures.

    The continuous-agreement analog of ``cohens_kappa``: Pearson r
    rewards linear association even with bias and scale error; CCC =
    2*cov / (vx + vy + (mx - my)^2) only reaches 1 when y == x — the
    right score for "does the reported duration MATCH the true one",
    not merely correlate.  One power-sum pass (population moments, the
    standard CCC convention).

    Returns per group: n, pearson_r (round 6), ccc (round 6),
    bias_shift (round 6).
    """
    x = (F.col(x_col) if isinstance(x_col, str) else x_col).cast("double")
    y = (F.col(y_col) if isinstance(y_col, str) else y_col).cast("double")
    agg = df.filter(x.isNotNull() & y.isNotNull()).groupBy(group_col).agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * x).alias("sxx"),
        F.sum(y * y).alias("syy"),
        F.sum(x * y).alias("sxy"),
    )
    n = F.col("n")
    mx, my = F.col("sx") / n, F.col("sy") / n
    vx = F.col("sxx") / n - mx * mx
    vy = F.col("syy") / n - my * my
    cov = F.col("sxy") / n - mx * my
    return agg.filter((n > 1) & (vx > 0) & (vy > 0)).select(
        group_col,
        n.cast("long").alias("n"),
        F.round(cov / F.sqrt(vx * vy), 6).alias("pearson_r"),
        F.round(
            2.0 * cov / (vx + vy + (mx - my) * (mx - my)), 6
        ).alias("ccc"),
        F.round(my - mx, 6).alias("bias_shift"),
    )


def bruteforce_detect(
    df: DataFrame,
    entity_col: str,
    ts_col: str,
    fail_pred,
    success_pred,
    window_s: int = 600,
    threshold: int = 3,
) -> DataFrame:
    """SIEM brute-force correlation: N failures then a success.

    The classic Splunk ES correlation search (and the reason the
    collector forwards auth logs to HEC at all): flag a success event
    preceded by >= ``threshold`` failures from the same entity within
    ``window_s`` seconds.  A compromised credential looks exactly like
    this; a fat-fingered password does not.

    One event-time RANGE window per entity — ``sum(fail) over
    (partition by entity order by epoch range [-window_s, -1])`` — so
    the whole rule is a single hash exchange on the entity key and a
    sort within partitions; no self-join, no explode.  At 10^12 rows
    the frame is bounded by per-entity rate x window, not table size.

    Returns one row per entity with successes seen, flagged successes,
    and the worst preceding-failure burst.
    """
    from pyspark.sql.window import Window

    sec = F.unix_timestamp(F.col(ts_col))
    base = df.select(
        F.col(entity_col).alias("entity"),
        sec.alias("sec"),
        fail_pred.cast("long").alias("is_fail"),
        success_pred.cast("long").alias("is_success"),
    )
    w = (
        Window.partitionBy("entity")
        .orderBy("sec")
        .rangeBetween(-window_s, -1)
    )
    scored = base.withColumn(
        "prior_fails", F.coalesce(F.sum("is_fail").over(w), F.lit(0))
    )
    succ = scored.filter(F.col("is_success") == 1)
    return succ.groupBy("entity").agg(
        F.count(F.lit(1)).alias("n_success"),
        F.sum(
            (F.col("prior_fails") >= threshold).cast("long")
        ).alias("n_flagged"),
        F.max("prior_fails").alias("max_prior_fails"),
    )


# Poisson(1) inverse-CDF thresholds (cumulative e^-1 * sum 1/i!),
# written as exact decimal literals so every engine compares the same
# constants.  Weights cap at 6 (P > 6 is ~8e-5 — negligible for CI
# width, and the cap keeps the fold bounded).
_POIS1_CDF = (
    "0.36787944117144233", "0.7357588823428847", "0.9196986029286058",
    "0.9810118431238462", "0.9963401531726563", "0.9994058151824183",
)


def poisson_bootstrap_ci(
    df: DataFrame,
    group_cols: list[str],
    id_col: str,
    value_col: str,
    reps: int = 32,
    alpha: float = 0.05,
) -> DataFrame:
    """Poisson bootstrap CI for the group mean — the bootstrap that
    actually scales.

    Classical bootstrap resamples n rows WITH replacement per
    replicate — a shuffle per replicate, hopeless at 10^12 rows.  The
    Poisson bootstrap (multinomial -> independent Poisson(1) weight
    approximation, standard at web scale) needs only a deterministic
    per-(row, replicate) weight: explode each row into ``reps``
    lightweight (rep, w) pairs map-side, partial-aggregate
    sum(w*x)/sum(w) per (group, rep), then take empirical quantiles of
    the rep means.  One exchange on (group, rep), one k x reps-sized
    reduce — no resampling shuffle, no RNG state (md5 of id:rep, the
    repo's portable-hash convention, so DuckDB reproduces every
    weight).
    """
    lo_q, hi_q = alpha / 2, 1 - alpha / 2
    w_case = "case " + " ".join(
        f"when _u < {t} then {i}" for i, t in enumerate(_POIS1_CDF)
    ) + " else 6 end"
    x = F.col(value_col).cast("double")
    rep = df.select(
        *group_cols, x.alias("_x"),
        F.col(id_col).cast("string").alias("_id"),
    ).withColumn("_rep", F.explode(F.expr(f"sequence(1, {reps})")))
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat_ws(":", F.col("_id"), F.col("_rep"))), 1, 8
            ),
            16, 10,
        ).cast("bigint")
        / F.lit(4294967296.0)
    )
    weighted = rep.withColumn("_u", u).withColumn(
        "_w", F.expr(w_case).cast("double")
    )
    per_rep = weighted.groupBy(*group_cols, "_rep").agg(
        (F.sum(F.col("_w") * F.col("_x")) / F.sum("_w")).alias("_mean")
    )
    return per_rep.groupBy(*group_cols).agg(
        F.round(F.expr(f"percentile(_mean, {lo_q})"), 6).alias("ci_lo"),
        F.round(F.expr(f"percentile(_mean, {hi_q})"), 6).alias("ci_hi"),
        F.count(F.lit(1)).alias("n_reps"),
    )


def page_trend(
    df: DataFrame,
    block_col: str,
    treatment_col: str,
    value_col: str,
) -> DataFrame:
    """Page's L trend test — the ORDERED-alternative Friedman.

    ``friedman_test`` asks "do the k treatments differ at all?"; Page's
    L asks the sharper monitoring question "do they increase IN THIS
    ORDER?" (e.g. latency monotone in payload-size band, error rate
    monotone in retry depth).  Within each complete block, rank the
    treatment means; L = sum_j c_j * R_j with c_j the hypothesized
    order index; under H0, E[L] = b·k(k+1)²/4 and
    Var[L] = b·k²(k+1)(k²−1)/144, giving a closed-form z — no lookup
    tables, no UDF.

    Treatment order is the ascending sort of the treatment label (the
    caller encodes the hypothesis into the label, e.g. '1_small' <
    '2_med' < '3_large').  Means are rounded to 6dp before ranking so
    every engine ranks identical values; blocks missing a treatment
    are dropped (observable via n_blocks).  Two keyed exchanges and a
    block-sized window — never a global sort.
    """
    m = (
        df.groupBy(block_col, treatment_col)
        .agg(F.round(F.avg(F.col(value_col).cast("double")), 6).alias("m"))
    )
    k_total = m.select(F.count_distinct(treatment_col).alias("k"))
    complete = (
        m.groupBy(block_col)
        .agg(F.count(F.lit(1)).alias("_kb"))
        .crossJoin(k_total)
        .filter(F.col("_kb") == F.col("k"))
        .select(block_col)
    )
    kept = m.join(complete, block_col)
    w_rank = Window.partitionBy(block_col).orderBy("m", treatment_col)
    w_order = Window.partitionBy(block_col).orderBy(treatment_col)
    ranked = kept.withColumn(
        "_r", F.row_number().over(w_rank).cast("double")
    ).withColumn("_c", F.row_number().over(w_order).cast("double"))
    agg = ranked.agg(
        F.sum(F.col("_c") * F.col("_r")).alias("L"),
        (F.count(F.lit(1))
         / F.max("_c")).cast("double").alias("b"),
        F.max("_c").alias("kk"),
    )
    b, k = F.col("b"), F.col("kk")
    mu = b * k * (k + 1) * (k + 1) / 4
    var = b * k * k * (k + 1) * (k * k - 1) / 144
    z = (F.col("L") - mu) / F.sqrt(var)
    return agg.select(
        F.col("L").cast("bigint").alias("l_stat"),
        F.col("b").cast("bigint").alias("n_blocks"),
        k.cast("bigint").alias("k_treatments"),
        F.round(z, 6).alias("z"),
        (F.abs(z) > 1.959963984540054).alias("trend"),
    )


def cramer_von_mises(
    df: DataFrame,
    split_pred,
    value_col: str,
    grid=None,
) -> DataFrame:
    """Two-sample Cramér-von Mises drift test on a bounded value grid.

    The integrated-square companion of ``ks_two_sample`` (KS sees only
    the worst single gap; CvM accumulates EVERY gap, so it catches
    broad low-amplitude drift KS misses):
    T = N·M/(N+M)² · Σ_v w_v · (F_a(v) − F_b(v))², summed over the
    DISTINCT value grid with multiplicity weights w_v = count_a(v) +
    count_b(v) — the classic sum-over-all-points statistic, regrouped
    so ties are handled naturally and the only window runs over the
    bounded grid (floor-bucketed like ks_value_drift), never over raw
    rows.  Reject at the 5% asymptotic critical value T > 0.461.
    """
    v = grid if grid is not None else F.floor(F.col(value_col))
    h = (
        df.select(
            v.alias("v"),
            F.when(split_pred, 1).otherwise(0).alias("ia"),
        )
        .groupBy("v")
        .agg(
            F.sum("ia").alias("ca"),
            F.sum(1 - F.col("ia")).alias("cb"),
        )
    )
    w_cum = Window.orderBy("v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    c = h.select(
        "v", "ca", "cb",
        F.sum("ca").over(w_cum).alias("cuma"),
        F.sum("cb").over(w_cum).alias("cumb"),
    )
    tot = h.agg(
        F.sum("ca").cast("double").alias("n"),
        F.sum("cb").cast("double").alias("m"),
    )
    agg = c.crossJoin(tot).agg(
        F.max("n").alias("n"),
        F.max("m").alias("m"),
        F.sum(
            (F.col("ca") + F.col("cb")).cast("double")
            * F.pow(
                F.col("cuma") / F.col("n") - F.col("cumb") / F.col("m"), 2
            )
        ).alias("s"),
    )
    n, m = F.col("n"), F.col("m")
    t = n * m / ((n + m) * (n + m)) * F.col("s")
    return agg.select(
        n.cast("bigint").alias("n_a"),
        m.cast("bigint").alias("n_b"),
        F.round(t, 6).alias("cvm_stat"),
        (t > 0.461).alias("drift"),
    )


def gesd_outliers(
    df: DataFrame,
    group_col: str,
    id_col: str,
    value_col: str,
    max_k: int = 3,
    r_threshold: float = 4.0,
) -> DataFrame:
    """Generalized ESD (iterated Grubbs) — peel up to ``max_k`` outliers.

    Grubbs' test (see ``grubbs_test``) is blind to the second outlier
    masking the first; Rosner's generalized ESD removes the most
    extreme point and RE-TESTS on the remainder, ``max_k`` times.
    Each round is one keyed aggregate (mean/sd) + one deterministic
    argmax (row_number over |z| desc, id asc — never max_by, so ties
    resolve identically in any engine) + an anti-join removal; the
    driver loop is bounded by ``max_k`` (like the k-means Lloyd step),
    lineage stays shallow, and no round shuffles more than the group
    key.  ``flagged`` uses a fixed R > ``r_threshold`` cut (the
    t-based Rosner lambda needs quantile tables; 4.0 is the common
    telemetry heuristic — document per fleet).
    """
    remaining = df.select(
        F.col(group_col).alias("g"),
        F.col(id_col).alias("id"),
        F.col(value_col).cast("double").alias("x"),
    )
    picks = None
    for rnd in range(1, max_k + 1):
        stats = remaining.groupBy("g").agg(
            F.count(F.lit(1)).cast("double").alias("n"),
            F.avg("x").alias("mu"),
            F.stddev_samp("x").alias("sd"),
        )
        z = (
            remaining.join(stats, "g")
            .filter((F.col("n") >= 3) & (F.col("sd") > 0))
            .withColumn("r", F.abs(F.col("x") - F.col("mu")) / F.col("sd"))
        )
        w = Window.partitionBy("g").orderBy(F.col("r").desc(), F.col("id"))
        top = (
            z.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select(
                "g", "id",
                F.lit(rnd).alias("round"),
                F.round("r", 6).alias("r_stat"),
                F.round("x", 6).alias("outlier_value"),
                (F.col("r") > r_threshold).alias("flagged"),
            )
        )
        top = top.localCheckpoint(eager=True)
        picks = top if picks is None else picks.unionByName(top)
        remaining = remaining.join(
            top.select("g", "id"), ["g", "id"], "left_anti"
        ).localCheckpoint(eager=True)
    return picks.select(
        F.col("g").alias(group_col), F.col("id").alias(id_col),
        "round", "outlier_value", "r_stat", "flagged",
    )


def hampel_despike(
    df: DataFrame,
    series_cols: list[str],
    order_cols: list[str],
    value_col: str,
    half_window: int = 5,
    n_sigmas: float = 3.0,
) -> DataFrame:
    """Hampel filter: rolling median ± k·MAD despiking per series.

    The robust despiker every metric pipeline wants before rate/trend
    math (a single ingest glitch poisons a mean filter; the Hampel
    median/MAD filter ignores it): over a ±``half_window``-row frame
    in event-time order, flag x where |x − med| > n·1.4826·MAD and
    emit ``cleaned`` = med for flagged rows, x otherwise.

    The rolling frame is materialized with collect_list over the
    bounded window and the two medians (window median, then MAD =
    median of |x − med|) are computed IN-ROW with array_sort +
    exact mid-interpolation — O(w log w) per row with w = 11, fully
    codegen'd, one exchange on the series key.  Edge rows use their
    truncated frame (standard Hampel behavior).
    """
    w = Window.partitionBy(*series_cols).orderBy(*order_cols).rowsBetween(
        -half_window, half_window
    )
    med_of = (
        lambda arr: f"(try_element_at({arr}, cast((size({arr}) + 1) / 2 as int))"  # noqa: E731,E501
        f" + try_element_at({arr}, cast(size({arr}) / 2 + 1 as int))) / 2"
    )
    out = df.withColumn(
        "_frame",
        F.array_sort(
            F.collect_list(F.col(value_col).cast("double")).over(w)
        ),
    )
    out = out.withColumn("_med", F.expr(med_of("_frame")))
    out = out.withColumn(
        "_dev",
        F.expr(
            "array_sort(transform(_frame, e -> abs(e - _med)))"
        ),
    ).withColumn("_mad", F.expr(med_of("_dev")))
    x = F.col(value_col).cast("double")
    spike = F.abs(x - F.col("_med")) > (
        F.lit(n_sigmas) * 1.4826 * F.col("_mad")
    )
    return (
        out.withColumn("window_median", F.round("_med", 6))
        .withColumn("is_spike", F.coalesce(spike, F.lit(False)))
        .withColumn(
            "cleaned",
            F.round(F.when(spike, F.col("_med")).otherwise(x), 6),
        )
        .drop("_frame", "_dev", "_med", "_mad")
    )


def position_bias_ipw(
    df: DataFrame,
    position_col: str,
    click_col: str,
    item_cols: list[str],
) -> DataFrame:
    """Position-bias estimate + IPW-debiased item CTR (PBM, rank-1
    normalized).

    Raw click-through rate confounds relevance with PLACEMENT: top
    slots get clicked because they are seen.  Under the position-based
    model, examination probability factors out as
    b_p = CTR(p) / CTR(1); inverse-propensity weighting each click by
    1/b_p recovers an unbiased relevance estimate — the debiasing
    pass a click-log -> LTR-training-data pipeline must run before
    the labels are usable.

    Two bounded aggregates: positions (|P| rows, crossJoined with the
    rank-1 scalar) and items; the bias table joins back by position —
    a tiny dim AQE broadcasts.  No windows, no global sort.
    """
    pos, clk = F.col(position_col), F.col(click_col).cast("double")
    per_pos = df.groupBy(position_col).agg(
        F.avg(clk).alias("_ctr_p")
    )
    top = per_pos.filter(pos == 1).select(
        F.col("_ctr_p").alias("_ctr_1")
    )
    bias = per_pos.crossJoin(top).select(
        position_col,
        F.round(F.col("_ctr_p") / F.col("_ctr_1"), 6).alias("bias"),
    )
    j = df.join(bias, position_col)
    return j.groupBy(*item_cols).agg(
        F.count(F.lit(1)).alias("impressions"),
        F.round(F.avg(clk), 6).alias("raw_ctr"),
        F.round(
            F.sum(clk / F.col("bias")) / F.count(F.lit(1)), 6
        ).alias("ipw_ctr"),
    )


def lift_gains_table(
    df: DataFrame,
    id_col: str,
    score_col: str,
    label_col: str,
    n_bins: int = 10,
) -> DataFrame:
    """Decile lift / gains table — the model-eval readout for a
    propensity score.

    Rank units by score into ``n_bins`` equal-count bins (ntile over
    the deterministic (score desc, id) order — ties cut identically in
    any engine), then per bin: positives, rate, cumulative capture
    (gains) and cumulative lift vs the base rate.  Only UNIT TOTALS
    are ranked, never the fact table (the lorenz_value_deciles
    discipline): the sort is over one row per scored unit, and the
    final table is n_bins rows.
    """
    w = Window.orderBy(F.col(score_col).desc(), F.col(id_col))
    binned = df.withColumn("bin", F.ntile(n_bins).over(w))
    per = binned.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n_units"),
        F.sum(F.col(label_col).cast("long")).alias("positives"),
    )
    wc = Window.orderBy("bin").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    tot = per.agg(
        F.sum("n_units").cast("double").alias("_N"),
        F.sum("positives").cast("double").alias("_P"),
    )
    cum = per.crossJoin(tot).select(
        "bin", "n_units", "positives",
        F.round(F.col("positives") / F.col("n_units"), 6).alias("rate"),
        F.sum("positives").over(wc).alias("_cp"),
        F.sum("n_units").over(wc).alias("_cn"),
        "_N", "_P",
    )
    return cum.select(
        "bin", "n_units", "positives", "rate",
        F.round(F.col("_cp") / F.col("_P"), 6).alias("cum_capture"),
        F.round(
            (F.col("_cp") / F.col("_cn")) / (F.col("_P") / F.col("_N")), 6
        ).alias("cum_lift"),
    )


def shapley_attribution(
    df: DataFrame,
    unit_col: str,
    channel_col: str,
    channels: list[str],
    converted_col: str,
) -> DataFrame:
    """Exact Shapley-value channel attribution over touched-set masks.

    Last-touch (see ``last_touch_attribution``) gives the whole
    conversion to one channel; Shapley splits it fairly over every
    coalition: phi_i = sum_S w(|S|)·(v(S∪{i}) − v(S)) with
    v(S) = P(convert | touched set = S) and the classic weights
    |S|!·(n−1−|S|)!/n!.  With n = len(channels) bounded (attribution
    sets always are), the 2^n coalition table is TINY: one exchange
    aggregates 10^12 rows to one row per unit, a second to one row per
    mask, and the Shapley sum runs over an n·2^n grid built from
    ``sequence()`` — unobserved coalitions contribute v = 0
    (documented; the standard empirical-v convention).

    Efficiency property holds by construction: sum(phi) = v(full) −
    v(empty) — asserted in tests.
    """
    n = len(channels)
    bit = {c: 1 << i for i, c in enumerate(channels)}
    mask_expr = None
    for c in channels:
        term = F.max(
            F.when(F.col(channel_col) == c, bit[c]).otherwise(0)
        )
        mask_expr = term if mask_expr is None else mask_expr + term
    units = df.groupBy(unit_col).agg(
        mask_expr.alias("mask"),
        F.max(F.col(converted_col).cast("double")).alias("conv"),
    )
    observed = units.groupBy("mask").agg(F.avg("conv").alias("v"))
    spark = df.sparkSession
    grid = spark.range(2**n).select(F.col("id").cast("int").alias("mask"))
    vtab = grid.join(observed, "mask", "left").select(
        "mask", F.coalesce("v", F.lit(0.0)).alias("v")
    )
    # popcount via explicit bit sum (portable: no bit_count dependency)
    pop = sum(
        (F.col("s") / (1 << i)).cast("int") % 2 for i in range(n)
    )
    fact = [1, 1, 2, 6, 24, 120, 720]
    w_weight = None
    for s_size in range(n):
        wv = fact[s_size] * fact[n - 1 - s_size] / fact[n]
        cond = F.when(F.col("_pop") == s_size, F.lit(wv))
        w_weight = cond if w_weight is None else w_weight.when(
            F.col("_pop") == s_size, F.lit(wv)
        )
    # channel dim as Catalyst literals (not a parallelized Python
    # list) — keeps the whole plan free of RDD scan nodes.
    ch = spark.range(1).select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("channel"),
                        F.lit(bit[c]).alias("_bit"),
                    )
                    for c in channels
                ]
            )
        ).alias("_e")
    ).select("_e.channel", "_e._bit")
    pairs = (
        ch.crossJoin(vtab.select(F.col("mask").alias("s"),
                                 F.col("v").alias("v_s")))
        .filter((F.col("s").bitwiseAND(F.col("_bit"))) == 0)
        .withColumn("_pop", pop)
        .join(
            vtab.select(F.col("mask").alias("s_i"),
                        F.col("v").alias("v_si")),
            F.col("s_i") == F.col("s") + F.col("_bit"),
        )
        .withColumn("_w", w_weight)
    )
    phi = pairs.groupBy("channel").agg(
        F.sum(F.col("_w") * (F.col("v_si") - F.col("v_s"))).alias("_phi")
    )
    tot = phi.agg(F.sum("_phi").alias("_tot"))
    return phi.crossJoin(tot).select(
        "channel",
        F.round("_phi", 6).alias("shapley_value"),
        F.round(F.col("_phi") / F.col("_tot"), 6).alias("share"),
    )


def qini_uplift(
    df: DataFrame,
    id_col: str,
    score_col: str,
    treat_col: str,
    outcome_col: str,
    n_bins: int = 10,
) -> DataFrame:
    """Qini curve — the uplift-model readout (gains table with a
    control arm).

    ``lift_gains_table`` evaluates a response model; an UPLIFT model
    must beat the control arm inside every score band:
    Qini(k) = cumConv_T(k) − cumConv_C(k)·cumN_T(k)/cumN_C(k), the
    incremental conversions the first k bins bought, net of what the
    (re-scaled) control would have produced anyway.  Bins are ntile
    over per-UNIT rows only (the lorenz/lift discipline), treated and
    control ranked TOGETHER by score so a bin is the same audience
    slice in both arms.
    """
    w = Window.orderBy(F.col(score_col).desc(), F.col(id_col))
    t = F.col(treat_col).cast("long")
    y = F.col(outcome_col).cast("long")
    binned = df.withColumn("bin", F.ntile(n_bins).over(w))
    per = binned.groupBy("bin").agg(
        F.sum(t).alias("n_treat"),
        F.sum(1 - t).alias("n_ctrl"),
        F.sum(t * y).alias("conv_treat"),
        F.sum((1 - t) * y).alias("conv_ctrl"),
    )
    wc = Window.orderBy("bin").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = per.select(
        "bin", "n_treat", "n_ctrl", "conv_treat", "conv_ctrl",
        F.sum("n_treat").over(wc).alias("_cnt"),
        F.sum("n_ctrl").over(wc).alias("_cnc"),
        F.sum("conv_treat").over(wc).alias("_cct"),
        F.sum("conv_ctrl").over(wc).alias("_ccc"),
    )
    # try_divide: an empty arm in a bin yields NULL (matches the
    # SQL-oracle NULL-on-zero-division convention), not an ANSI error.
    uplift = (
        F.try_divide(F.col("conv_treat"), F.col("n_treat"))
        - F.try_divide(F.col("conv_ctrl"), F.col("n_ctrl"))
    )
    qini = F.col("_cct") - F.try_divide(
        F.col("_ccc") * F.col("_cnt"), F.col("_cnc")
    )
    return cum.select(
        "bin", "n_treat", "n_ctrl", "conv_treat", "conv_ctrl",
        F.round(uplift, 6).alias("uplift_rate"),
        F.round(qini, 6).alias("qini"),
    )


MARKOV_ITERS = 60


def markov_attribution(
    df: DataFrame,
    unit_col: str,
    order_cols: list[str],
    channel_col: str,
    channels: list[str],
    conv_channel: str,
    iters: int = MARKOV_ITERS,
) -> DataFrame:
    """Markov removal-effect attribution (Anderl et al. shape).

    The third member of the attribution family (``last_touch_attribution``
    heuristic, ``shapley_attribution`` set-based): model journeys as a
    first-order chain START -> channels -> {conv, END}, truncated at
    the first conversion; a channel's credit is its REMOVAL EFFECT —
    how much P(conv from START) drops when every edge INTO the channel
    is cut.

    Spark does the heavy part: one keyed window pass turns 10^12
    ordered touches into (from, to) edge counts over a <= (k+1)x(k+2)
    grid.  The chain solve is bounded driver math (the k-means /
    PCA-power-iteration precedent): p = T_v·p + b iterated a FIXED
    ``iters`` times per removal variant with a FIXED left-to-right
    summation order, so the value is a deterministic function of the
    counts that any engine reproduces bit-for-bit (the SQL oracle
    unrolls the same iterations; convergence tolerance never enters
    the contract).
    """
    spark = df.sparkSession
    u, ch = F.col(unit_col), F.col(channel_col)
    w = Window.partitionBy(unit_col).orderBy(*order_cols)
    base = df.select(
        u.alias("_u"), ch.alias("_c"),
        F.row_number().over(w).alias("_rn"),
    )
    wu = Window.partitionBy("_u")
    cut = base.withColumn(
        "_cut",
        F.min(F.when(F.col("_c") == conv_channel, F.col("_rn"))).over(wu),
    ).filter(
        F.col("_cut").isNull() | (F.col("_rn") <= F.col("_cut"))
    )
    wk = Window.partitionBy("_u").orderBy("_rn")
    edges = (
        cut.withColumn("_to", F.lead("_c").over(wk))
        .filter(F.col("_c") != conv_channel)
        .select(
            F.col("_c").alias("f"),
            F.coalesce("_to", F.lit("END")).alias("t"),
        )
    )
    starts = cut.filter(F.col("_rn") == 1).select(
        F.lit("START").alias("f"), F.col("_c").alias("t")
    )
    counts = {
        (r["f"], r["t"]): r["n"]
        for r in edges.unionByName(starts)
        .groupBy("f", "t").agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    froms = ["START"] + channels
    totals = {
        s: sum(counts.get((s, t2), 0) for t2 in
               channels + [conv_channel, "END"])
        for s in froms
    }
    T = {
        s: [
            (counts.get((s, t2), 0) / totals[s]) if totals[s] else 0.0
            for t2 in channels
        ]
        for s in froms
    }
    B = {
        s: (counts.get((s, conv_channel), 0) / totals[s])
        if totals[s] else 0.0
        for s in froms
    }

    def solve(removed: str | None) -> float:
        # column mask: edges INTO `removed` are cut
        mask = [0.0 if c == removed else 1.0 for c in channels]
        p = [0.0] * len(channels)
        for _ in range(iters):
            nxt = []
            for s in channels:
                acc = 0.0
                for j in range(len(channels)):
                    acc = acc + T[s][j] * mask[j] * p[j]
                nxt.append(acc + B[s])
            p = nxt
        acc = 0.0
        for j in range(len(channels)):
            acc = acc + T["START"][j] * mask[j] * p[j]
        return acc + B["START"]

    p_full = solve(None)
    effects = {c: 1.0 - (solve(c) / p_full if p_full else 0.0)
               for c in channels}
    tot = sum(effects[c] for c in channels)
    rows = [
        (
            c,
            round(effects[c], 6),
            round(effects[c] / tot, 6) if tot else None,
            round(p_full, 6),
        )
        for c in channels
    ]
    return spark.createDataFrame(
        rows, "channel string, removal_effect double, "
        "attribution_share double, p_conv_full double"
    )


def allan_variance(
    df: DataFrame,
    group_cols: list[str],
    bucket_col: str,
    value_col: str,
    taus: list[int] = (1, 2, 4, 8),
) -> DataFrame:
    """Allan variance over averaging windows — oscillator-style
    stability analysis for metric streams.

    Classic variance cannot tell WHITE noise from DRIFT: it grows
    without bound under random walk.  The Allan variance
    sigma^2(tau) = 1/(2(M-1)) * sum (ybar_{k+1} - ybar_k)^2 over
    means of consecutive tau-sized blocks separates them by its
    tau-slope (white: -1, flicker: 0, random walk: +1) — the readout
    clock-drift and rate-stability audits want (companions:
    clock_drift OLS, burstiness_fano).

    Per (group, tau): one block-mean aggregate + one lag window over
    the BOUNDED block table; the raw series is touched once per tau
    with tau fan-out = len(taus) map-side copies, never a cross join.
    """
    base = df.select(
        *group_cols,
        F.col(bucket_col).cast("long").alias("_b"),
        F.col(value_col).cast("double").alias("_y"),
    )
    outs = None
    for tau in taus:
        blocks = base.groupBy(
            *group_cols, (F.floor(F.col("_b") / tau)).alias("_blk")
        ).agg(
            F.avg("_y").alias("_m"), F.count(F.lit(1)).alias("_cnt")
        ).filter(F.col("_cnt") == tau)  # complete blocks only
        w = Window.partitionBy(*group_cols).orderBy("_blk")
        d = blocks.withColumn("_prev", F.lag("_m").over(w)).filter(
            F.col("_prev").isNotNull()
        )
        a = d.groupBy(*group_cols).agg(
            F.count(F.lit(1)).alias("_pairs"),
            F.sum(
                (F.col("_m") - F.col("_prev"))
                * (F.col("_m") - F.col("_prev"))
            ).alias("_ss"),
        ).select(
            *group_cols,
            F.lit(tau).alias("tau"),
            (F.col("_pairs") + 1).alias("n_blocks"),
            F.round(F.col("_ss") / (2 * F.col("_pairs")), 6).alias("avar"),
        )
        outs = a if outs is None else outs.unionByName(a)
    return outs


def dtw_profile_distance(
    df: DataFrame,
    group_col: str,
    slot_col: str,
    value_col: str,
    n_slots: int = 24,
) -> DataFrame:
    """Dynamic-time-warping distance between per-group slot profiles —
    the alignment-tolerant curve metric Spark lacks.

    Euclidean distance between two daily shapes calls a 1-hour phase
    shift a big difference; DTW warps the time axis and charges only
    the true shape gap — the right metric for "do these services
    breathe alike?" clustering.  The full O(S^2) DP runs IN-ROW as a
    nested fold (Catalyst ``aggregate`` HOF outer over rows of the
    cost matrix, inner over columns carrying the growing row — the
    same fold-as-state-machine trick as the varint decoder), with S
    bounded by the slot count (24), so the pairwise table is
    |groups|^2/2 tiny rows and the plan has no Python anywhere.

    Profiles are share-normalized and rounded to 9dp BEFORE the DP so
    both engines fold identical doubles.
    """
    shares = (
        df.groupBy(group_col, F.col(slot_col).cast("int").alias("_s"))
        .agg(F.count(F.lit(1)).alias("_n"))
    )
    w_tot = Window.partitionBy(group_col)
    prof = (
        shares.withColumn(
            "_share",
            F.round(F.col("_n") / F.sum("_n").over(w_tot), 9),
        )
        .groupBy(group_col)
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("_s"), F.col("_share")))
                ),
                lambda e: e["_share"],
            ).alias("_prof"),
            F.count(F.lit(1)).alias("_slots"),
        )
        .filter(F.col("_slots") == n_slots)
    )
    a = prof.select(
        F.col(group_col).alias("g_a"), F.col("_prof").alias("_pa")
    )
    b = prof.select(
        F.col(group_col).alias("g_b"), F.col("_prof").alias("_pb")
    )
    pairs = a.join(b, F.col("g_a") < F.col("g_b"))
    inf = "cast(1e18 as double)"
    init = (
        f"concat(array(cast(0.0 as double)), transform(sequence(1, {n_slots}),"
        f" x -> {inf}))"
    )
    dp = (
        f"aggregate(sequence(1, {n_slots}), {init},"
        f" (prev, i) -> aggregate(sequence(1, {n_slots}),"
        f" array({inf}),"
        " (cur, j) -> concat(cur, array("
        "abs(try_element_at(_pa, i) - try_element_at(_pb, j))"
        " + least(try_element_at(prev, j), try_element_at(prev, j + 1),"
        " try_element_at(cur, -1))))))"
    )
    return pairs.select(
        "g_a", "g_b",
        F.round(
            F.expr(f"try_element_at({dp}, {n_slots + 1})"), 6
        ).alias("dtw_dist"),
    )


def kalman_level(
    df: DataFrame,
    group_cols: list[str],
    order_col: str,
    value_col: str,
    q: float = 0.05,
    r: float = 1.0,
    p0: float = 1.0,
) -> DataFrame:
    """1-D Kalman level filter per series — sequential state as a fold.

    The optimal (under Gaussian noise) online smoother: per point,
    gain k = p/(p+r), level += k·(x − level), p = (1−k)·p + q.  A
    sequential recurrence has no window-function form, but per SERIES
    it is exactly a fold: collect the ordered series (bounded — this
    runs on rollup series like hourly counts, not raw events; the
    contract documented here is |series| <= ~10^4) and run the
    recurrence IN-ROW with the ``aggregate`` HOF, emitting the
    filtered level per point.  One exchange on the series key; the
    fold is identical expression structure in Spark and DuckDB
    (list_reduce), so outputs are bit-identical.

    Returns one row per input point: order value, raw x, filtered
    level (round 6).
    """
    base = df.select(
        *group_cols,
        F.col(order_col).cast("long").alias("_o"),
        F.col(value_col).cast("double").alias("_x"),
    )
    ser = base.groupBy(*group_cols).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("_o", "_x"))),
            lambda e: e["_x"],
        ).alias("_xs"),
        F.array_sort(F.collect_list("_o")).alias("_os"),
    )
    # The first element seeds the state (lvl = x0, emitted as-is); the
    # 'first' flag makes the fold skip re-processing the seed point.
    fold = (
        "aggregate(_xs,"
        f" named_struct('lvl', cast(_xs[0] as double), 'p',"
        f" cast({p0} as double), 'out', array(cast(_xs[0] as double)),"
        " 'first', true),"
        " (acc, x) -> case when acc.first then"
        " named_struct('lvl', acc.lvl, 'p', acc.p, 'out', acc.out,"
        " 'first', false) else"
        f" named_struct("
        f" 'lvl', acc.lvl + (acc.p / (acc.p + {r})) * (x - acc.lvl),"
        f" 'p', (1.0 - acc.p / (acc.p + {r})) * acc.p + {q},"
        f" 'out', concat(acc.out, array(acc.lvl"
        f" + (acc.p / (acc.p + {r})) * (x - acc.lvl))),"
        " 'first', false) end)"
    )
    folded = ser.withColumn("_levels", F.expr(fold).getField("out"))
    return folded.select(
        *group_cols,
        F.posexplode(F.arrays_zip("_os", "_levels")).alias("_i", "_z"),
    ).select(
        *group_cols,
        F.col("_z._os").alias(order_col),
        F.round(F.col("_z._levels"), 6).alias("kalman_level"),
    )


def linear_counting(
    df: DataFrame,
    group_cols: list[str],
    key_col: str,
    m: int = 4096,
) -> DataFrame:
    """Linear (bitmap) counting — the small-cardinality sketch that
    beats HLL where HLL is weakest.

    HLL (see ``hll_distinct``) has ~2%% error but a biased low range;
    linear counting hashes keys into an m-slot bitmap and estimates
    n_hat = -m · ln(V/m) from the EMPTY-slot fraction V/m — near-exact
    while the bitmap is sparse, and the two sketches compose into the
    standard hybrid.  The bitmap is just ``count_distinct(bucket)``
    over the portable md5 bucket (the repo's hash convention, so any
    engine reproduces the occupancy bit-for-bit); one exchange, m
    bounded state per group, mergeable by construction (bitmap OR =
    distinct-union of occupied slots).
    """
    from .telemetry import sample_bucket

    occ = df.groupBy(*group_cols).agg(
        F.count_distinct(
            sample_bucket(F.col(key_col), m)
        ).alias("_occupied"),
        F.count_distinct(F.col(key_col)).alias("exact_distinct"),
    )
    v = (F.lit(m) - F.col("_occupied")) / F.lit(float(m))
    est = F.when(
        F.col("_occupied") < m, F.round(-m * F.log(v), 2)
    )  # saturated bitmap -> NULL (caller escalates to HLL)
    return occ.select(
        *group_cols,
        F.col("_occupied").alias("occupied_slots"),
        est.alias("lc_estimate"),
        "exact_distinct",
    )


def fellegi_sunter(
    pairs: DataFrame,
    label_col: str,
    agree_cols: list[str],
) -> DataFrame:
    """Fellegi-Sunter record-linkage weights from labeled candidate
    pairs.

    The probabilistic-matching layer over blocking (see
    ``soundex_block``-style candidates): for every compared field,
    m = P(agree | match) and u = P(agree | non-match) give the
    log-likelihood weights w_agree = log2(m/u) and
    w_disagree = log2((1−m)/(1−u)); a pair's match score is the sum
    over fields.  High-m/low-u fields (an id-like column) dominate;
    noisy fields contribute near-zero — learned, not hand-tuned.

    One aggregate over the pairs table per field (conditional means —
    a single pass emits all fields), output 1 row per field.  Laplace
    smoothing (+1/+2) keeps weights finite when a field is perfect.
    """
    lab = F.col(label_col).cast("double")
    aggs = []
    for c in agree_cols:
        a = F.col(c).cast("double")
        aggs += [
            ((F.sum(a * lab) + 1) / (F.sum(lab) + 2)).alias(f"_m_{c}"),
            ((F.sum(a * (1 - lab)) + 1)
             / (F.sum(1 - lab) + 2)).alias(f"_u_{c}"),
        ]
    wide = pairs.agg(*aggs)
    rows = None
    for c in agree_cols:
        m_, u_ = F.col(f"_m_{c}"), F.col(f"_u_{c}")
        r = wide.select(
            F.lit(c).alias("field"),
            F.round(m_, 6).alias("m_prob"),
            F.round(u_, 6).alias("u_prob"),
            F.round(F.log2(m_ / u_), 6).alias("w_agree"),
            F.round(F.log2((1 - m_) / (1 - u_)), 6).alias("w_disagree"),
        )
        rows = r if rows is None else rows.unionByName(r)
    return rows


def _det4(a) -> str:
    """4x4 determinant by explicit permutation expansion — the SAME
    generated text runs in Spark and DuckDB, so the fold order of the
    24 terms is fixed by construction.  ``a[i][j]`` are SQL column
    names."""
    from itertools import permutations

    terms = []
    for perm in permutations(range(4)):
        inv = sum(
            1
            for x in range(4)
            for y in range(x + 1, 4)
            if perm[x] > perm[y]
        )
        sign = "-" if inv % 2 else "+"
        prod = " * ".join(a[i][perm[i]] for i in range(4))
        terms.append(f"{sign} {prod}")
    return "(" + " ".join(terms) + ")"


def harmonic_ols(
    df: DataFrame,
    group_cols: list[str],
    bucket_col: str,
    value_col: str,
    period: int = 24,
) -> DataFrame:
    """Multi-feature OLS in closed form: y ~ 1 + trend + sin + cos.

    ``ols_trend`` fits the slope; capacity planning over daily-cyclic
    log volume needs trend AND the diurnal harmonic in one model.
    The normal equations are solved by CRAMER'S RULE with the 4x4
    determinants expanded as generated expressions (fixed term order
    — both engines run the identical text, see ``_det4``), so the
    whole fit is one power-sum aggregate plus in-row arithmetic:
    no matrix library, no iteration, no Python, one exchange.

    Features are bounded (trend scaled by period, harmonics in
    [-1,1]) to keep the system well-conditioned.  Outputs the four
    coefficients and R^2 per group.
    """
    two_pi = 6.283185307179586
    b = F.col(bucket_col).cast("double")
    wmin = Window.partitionBy(*group_cols)
    t = (b - F.min(b).over(wmin)) / F.lit(float(period))
    ang = two_pi * (F.pmod(b, F.lit(period)) / F.lit(float(period)))
    base = df.select(
        *group_cols,
        F.lit(1.0).alias("x0"),
        t.alias("x1"),
        F.sin(ang).alias("x2"),
        F.cos(ang).alias("x3"),
        F.col(value_col).cast("double").alias("y"),
    )
    names = ["x0", "x1", "x2", "x3"]
    sums = []
    for i in range(4):
        for j in range(i, 4):
            sums.append(
                F.sum(F.col(names[i]) * F.col(names[j])).alias(
                    f"s{i}{j}"
                )
            )
        sums.append(
            F.sum(F.col(names[i]) * F.col("y")).alias(f"sy{i}")
        )
    sums += [
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("y").alias("sy"),
    ]
    agg = base.groupBy(*group_cols).agg(*sums)

    def cell(i, j):
        return f"s{min(i, j)}{max(i, j)}"

    A = [[cell(i, j) for j in range(4)] for i in range(4)]
    det_a = _det4(A)
    betas = []
    for k in range(4):
        Ak = [
            [f"sy{i}" if j == k else A[i][j] for j in range(4)]
            for i in range(4)
        ]
        betas.append(f"({_det4(Ak)}) / ({det_a})")
    sel = [F.col(c) for c in group_cols]
    for k in range(4):
        sel.append(F.round(F.expr(betas[k]), 6).alias(f"beta{k}"))
    # R^2 = 1 - SSE/SST with SSE = syy - sum_k beta_k * sy_k
    sse = "syy - (" + " + ".join(
        f"(({_det4([[f'sy{i}' if j == k else A[i][j] for j in range(4)] for i in range(4)])}) / ({det_a})) * sy{k}"  # noqa: E501
        for k in range(4)
    ) + ")"
    sst = "syy - sy * sy / n"
    sel.append(F.round(F.expr(f"1.0 - ({sse}) / ({sst})"), 6).alias("r2"))
    sel.append(F.col("n").cast("bigint").alias("n_points"))
    return agg.select(*sel)


def dp_noisy_counts(
    df: DataFrame,
    group_cols: list[str],
    epsilon: float = 1.0,
) -> DataFrame:
    """Differentially-private noisy counts (Laplace mechanism) with a
    seed-free portable noise draw.

    Completes the privacy family (k_anonymity_audit / l_diversity /
    t_closeness audit the DATA; this releases protected AGGREGATES):
    count + Laplace(1/epsilon) noise per group.  The uniform draw
    comes from the repo's portable md5 hash of the group key — a
    DETERMINISTIC release (same table -> same noise), which is exactly
    what a re-runnable pipeline wants: re-publishing must not spend
    fresh privacy budget by re-drawing.

    noise = -b·sign(u−½)·ln(1−2|u−½|), b = 1/epsilon; one aggregate
    exchange, noise arithmetic in-row.  ``abs_err`` makes the
    privacy/utility trade observable per group.
    """
    b = 1.0 / epsilon
    key = F.concat_ws("|", *[F.col(c).cast("string") for c in group_cols])
    agg = df.groupBy(*group_cols).agg(F.count(F.lit(1)).alias("n"))
    u = (
        (
            F.conv(F.substring(F.md5(key), 1, 8), 16, 10).cast("bigint")
            + F.lit(0.5)
        )
        / F.lit(4294967296.0)
    )
    centered = u - 0.5
    noise = (
        -F.lit(b)
        * F.signum(centered)
        * F.log(1 - 2 * F.abs(centered))
    )
    return agg.select(
        *group_cols,
        F.col("n").alias("true_count"),
        F.round(F.col("n") + noise, 6).alias("noisy_count"),
        F.round(F.abs(noise), 6).alias("abs_err"),
    )


def quantile_normalize_sources(
    df: DataFrame,
    source_col: str,
    value_col: str,
    bucket_width: int = 50,
) -> DataFrame:
    """Quantile-normalize per-source distributions onto the pooled
    distribution — batch-effect correction for heterogeneous feeds.

    Two sources reporting the same metric with different gain/offset
    poison any pooled threshold; quantile normalization maps each
    source's value at percentile p to the POOLED value at p, after
    which thresholds mean the same thing everywhere.  Everything runs
    on BOUNDED bucket-CDF tables (floor-bucketed like ks_value_drift),
    never row-level sorts: per-source CDF (midpoint convention
    pr = (cum − n/2)/N), pooled CDF, and a step-function quantile
    lookup via min-bucket-above join.  Output is one row per
    (source, bucket): the mapping table a downstream select joins in.
    """
    v = F.floor(F.col(value_col) / bucket_width) * bucket_width
    h = df.groupBy(source_col, v.alias("bucket")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    w_src = Window.partitionBy(source_col).orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_tot = Window.partitionBy(source_col)
    src = h.select(
        source_col, "bucket", "cnt",
        (
            (F.sum("cnt").over(w_src) - F.col("cnt") / 2.0)
            / F.sum("cnt").over(w_tot)
        ).alias("pr"),
    )
    pooled = df.groupBy(v.alias("pb")).agg(F.count(F.lit(1)).alias("pc"))
    w_p = Window.orderBy("pb").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_pt = Window.partitionBy()
    pcdf = pooled.select(
        "pb",
        (F.sum("pc").over(w_p) / F.sum("pc").over(w_pt)).alias("pcdf"),
    )
    # step-quantile: smallest pooled bucket whose CDF reaches pr
    mapped = (
        src.join(pcdf, F.col("pcdf") >= F.col("pr"))
        .groupBy(source_col, "bucket", "cnt", "pr")
        .agg(F.min("pb").alias("mapped_value"))
    )
    return mapped.select(
        source_col, "bucket", "cnt",
        F.round("pr", 6).alias("pr"), "mapped_value",
    )


def classical_decomposition(
    df: DataFrame,
    group_cols: list[str],
    bucket_col: str,
    value_col: str,
    period: int = 24,
) -> DataFrame:
    """Classical additive seasonal decomposition (trend + seasonal +
    remainder) — the interpretable baseline under every anomaly rule.

    ``seasonality_strength`` scores the cycle; this SPLITS the series:
    trend = centered 2xP moving average (half-weights at both ends —
    the textbook even-period kernel), seasonal = per-phase mean of the
    detrended series re-centered to sum to zero, remainder = what the
    alerts should actually fire on.  Requires a DENSE bucket grid
    (gap-fill first — see ``fill_time_gaps``); edge buckets with an
    incomplete trend window yield NULL trend/remainder, never a
    silently-shortened kernel.

    One keyed window for the kernel, one bounded per-phase aggregate
    joined back; no global sorts.
    """
    half = period // 2
    w = Window.partitionBy(*group_cols).orderBy(bucket_col)
    wr = w.rowsBetween(-half, half)
    y = F.col(value_col).cast("double")
    base = df.withColumn("_cnt", F.count(F.lit(1)).over(wr)).withColumn(
        "_trend",
        F.when(
            F.col("_cnt") == period + 1,
            (
                F.sum(y).over(wr)
                - 0.5 * F.lag(y, half).over(w)
                - 0.5 * F.lead(y, half).over(w)
            )
            / period,
        ),
    )
    base = base.withColumn("_det", y - F.col("_trend")).withColumn(
        "_phase", F.pmod(F.col(bucket_col), F.lit(period))
    )
    seas = base.groupBy(*group_cols, "_phase").agg(
        F.avg("_det").alias("_s_raw")
    )
    w_g = Window.partitionBy(*group_cols)
    seas = seas.withColumn(
        "_seasonal", F.col("_s_raw") - F.avg("_s_raw").over(w_g)
    ).select(*group_cols, "_phase", "_seasonal")
    out = base.join(seas, [*group_cols, "_phase"])
    # remainder from the ROUNDED components: trend/seasonal carry
    # engine-fold noise at the last ulp, and y − trend − seasonal
    # lands exactly on dyadic half-boundaries of the 6dp grid — the
    # rounded inputs are bit-identical everywhere, so the difference
    # (and its rounding) is too.
    ry = F.round(y, 6)
    rt = F.round("_trend", 6)
    rs = F.round("_seasonal", 6)
    return out.select(
        *group_cols,
        F.col(bucket_col),
        ry.alias("y"),
        rt.alias("trend"),
        rs.alias("seasonal"),
        F.round(ry - rt - rs, 6).alias("remainder"),
    )


def diff_in_diff(
    df: DataFrame,
    treated_col: str,
    post_col: str,
    value_col: str,
) -> DataFrame:
    """Difference-in-differences — the parallel-trends causal
    estimate for a rollout with a control group.

    Pre/post alone confounds the change with time; treatment/control
    alone confounds it with group composition.  DiD subtracts both:
    (T_post − T_pre) − (C_post − C_pre), with the classic
    unequal-variance SE sqrt(Σ var_cell/n_cell) over the four cells
    and a z-decision at 1.96.  One conditional-aggregate pass —
    four (count, sum, sumsq) triples in a single exchange.
    """
    t = F.col(treated_col).cast("int")
    p = F.col(post_col).cast("int")
    y = F.col(value_col).cast("double")
    aggs = []
    for ti in (0, 1):
        for pi in (0, 1):
            cell = (t == ti) & (p == pi)
            cy = F.when(cell, y)
            aggs += [
                F.count(cy).cast("double").alias(f"n{ti}{pi}"),
                F.sum(cy).alias(f"s{ti}{pi}"),
                F.sum(F.when(cell, y * y)).alias(f"q{ti}{pi}"),
            ]
    a = df.agg(*aggs)
    mean = {c: F.col(f"s{c}") / F.col(f"n{c}")
            for c in ("00", "01", "10", "11")}
    var = {
        c: (F.col(f"q{c}") - F.col(f"s{c}") * F.col(f"s{c}")
            / F.col(f"n{c}"))
        / (F.col(f"n{c}") - 1)
        for c in ("00", "01", "10", "11")
    }
    did = (mean["11"] - mean["10"]) - (mean["01"] - mean["00"])
    se = F.sqrt(
        var["11"] / F.col("n11") + var["10"] / F.col("n10")
        + var["01"] / F.col("n01") + var["00"] / F.col("n00")
    )
    return a.select(
        F.round(mean["00"], 6).alias("ctrl_pre"),
        F.round(mean["01"], 6).alias("ctrl_post"),
        F.round(mean["10"], 6).alias("treat_pre"),
        F.round(mean["11"], 6).alias("treat_post"),
        F.round(did, 6).alias("did"),
        F.round(se, 6).alias("se"),
        F.round(did / se, 6).alias("z"),
        (F.abs(did / se) > 1.959963984540054).alias("significant"),
    )


def bandit_replay_eval(
    df: DataFrame,
    context_col: str,
    arm_col: str,
    reward_col: str,
    train_pred,
) -> DataFrame:
    """Offline bandit policy evaluation by replay (Li et al. 2011).

    Train/serve split without an online experiment: learn the greedy
    policy (argmax mean reward per context, tie -> smallest arm) on
    the TRAIN slice, then on the EVAL slice keep only events whose
    logged arm equals the policy's choice — their mean reward is an
    unbiased estimate of the policy's online reward when logging was
    uniform-random.  Reports the matched fraction (the effective
    sample) and the logging baseline per context, so "policy beats
    random" is read off directly.

    Two keyed aggregates + one broadcast-size policy join; no windows
    over raw rows.
    """
    r = F.col(reward_col).cast("double")
    train = df.filter(train_pred)
    ev = df.filter(~train_pred)
    per_arm = train.groupBy(context_col, arm_col).agg(
        F.avg(r).alias("_ctr"), F.count(F.lit(1)).alias("_n")
    )
    w = Window.partitionBy(context_col).orderBy(
        F.col("_ctr").desc(), F.col(arm_col)
    )
    policy = (
        per_arm.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            context_col,
            F.col(arm_col).alias("_policy_arm"),
            F.round("_ctr", 6).alias("train_ctr"),
        )
    )
    j = ev.join(policy, context_col)
    return j.groupBy(context_col).agg(
        F.max("_policy_arm").alias("policy_arm"),
        F.max("train_ctr").alias("train_ctr"),
        F.count(F.lit(1)).alias("n_eval"),
        F.sum(
            (F.col(arm_col) == F.col("_policy_arm")).cast("long")
        ).alias("n_matched"),
        F.round(
            F.avg(F.when(F.col(arm_col) == F.col("_policy_arm"), r)), 6
        ).alias("replay_reward"),
        F.round(F.avg(r), 6).alias("logging_baseline"),
    )


def isotonic_calibration(
    df: DataFrame,
    score_col: str,
    label_col: str,
    n_bins: int = 20,
) -> DataFrame:
    """Isotonic calibration (PAVA) of a score against outcomes —
    monotone probability mapping without a parametric form.

    ``ece_calibration`` measures miscalibration; this FIXES it: pool
    adjacent score bins until the bin rates are monotone.  Instead of
    the sequential pool-adjacent-violators cascade (a while-loop no
    fold step can express), the fit uses the equivalent MINIMAX
    identity  iso(k) = max_{i<=k} min_{j>=i} avg(y[i..j])  over
    weighted prefix sums — O(B^3) pure array arithmetic IN-ROW with B
    = observed bins (<= ``n_bins``), exact (ratios of integer sums,
    min/max order-insensitive), so any engine reproduces it
    bit-for-bit.  The raw table is touched once (bin aggregate); the
    minimax runs on one collected row of two (B+1)-arrays.
    """
    b = F.least(
        F.floor(F.col(score_col) * n_bins).cast("int"),
        F.lit(n_bins - 1),
    )
    y = F.col(label_col).cast("double")
    bins = df.groupBy(b.alias("bin")).agg(
        F.count(F.lit(1)).cast("double").alias("w"),
        F.sum(y).alias("s"),
    )
    one = bins.agg(
        F.array_sort(
            F.collect_list(F.struct("bin", "w", "s"))
        ).alias("_bs")
    )
    # prefix arrays with leading zero: P[t+1] = sum s[1..t]
    prefix = (
        "aggregate(_bs, named_struct('p', array(cast(0.0 as double)),"
        " 'w', array(cast(0.0 as double))),"
        " (acc, e) -> named_struct("
        " 'p', concat(acc.p, array(try_element_at(acc.p, -1) + e.s)),"
        " 'w', concat(acc.w, array(try_element_at(acc.w, -1) + e.w))))"
    )
    one = one.withColumn("_pre", F.expr(prefix))
    nb = "size(_bs)"
    fits = (
        f"transform(sequence(1, {nb}), k -> "
        "array_max(transform(sequence(1, k), i -> "
        f"array_min(transform(sequence(i, {nb}), j -> "
        "(try_element_at(_pre.p, j + 1) - try_element_at(_pre.p, i))"
        " / (try_element_at(_pre.w, j + 1)"
        " - try_element_at(_pre.w, i)))))))"
    )
    one = one.withColumn("_fit", F.expr(fits))
    out = one.select(
        F.posexplode(F.arrays_zip("_bs", "_fit")).alias("_i", "_z")
    )
    return out.select(
        F.col("_z._bs.bin").alias("bin"),
        F.col("_z._bs.w").cast("bigint").alias("n"),
        F.round(F.col("_z._bs.s") / F.col("_z._bs.w"), 6).alias(
            "raw_rate"
        ),
        F.round(F.col("_z._fit"), 6).alias("iso_rate"),
    )


def mg1_waiting(
    df: DataFrame,
    group_cols: list[str],
    ts_col: str,
    service_col: str,
) -> DataFrame:
    """M/G/1 waiting time (Pollaczek-Khinchine) per server class.

    ``erlang_queue`` assumes exponential service; P-K needs only the
    first two SERVICE MOMENTS: Wq = lambda·E[S^2] / (2(1-rho)) with
    rho = lambda·E[S] — so bursty (high-variance) service is charged
    correctly, which is the whole point for log-pipeline flush/export
    latencies.  One aggregate pass: arrival rate from the observed
    span, service moments from power sums; unstable classes
    (rho >= 1) yield NULL waiting, never a negative fantasy.
    """
    sec = F.unix_timestamp(F.col(ts_col)).cast("double")
    s = F.col(service_col).cast("double")
    a = df.groupBy(*group_cols).agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        (F.max(sec) - F.min(sec)).alias("span"),
        F.avg(s).alias("es"),
        F.avg(s * s).alias("es2"),
    ).filter(F.col("span") > 0)
    lam = F.col("n") / F.col("span")
    rho = lam * F.col("es")
    wq = F.when(rho < 1, lam * F.col("es2") / (2 * (1 - rho)))
    return a.select(
        *group_cols,
        F.col("n").cast("bigint").alias("n_jobs"),
        F.round(lam, 6).alias("lambda_rate"),
        F.round("es", 6).alias("mean_service"),
        F.round("es2", 6).alias("service_m2"),
        F.round(rho, 6).alias("rho"),
        F.round(wq, 6).alias("wq"),
        F.round(wq + F.col("es"), 6).alias("w_total"),
        F.round(lam * wq, 6).alias("lq"),
    )


def needleman_wunsch(
    pairs: DataFrame,
    seq_a_col: str,
    seq_b_col: str,
    match: float = 1.0,
    mismatch: float = -1.0,
    gap: float = -1.0,
) -> DataFrame:
    """Needleman-Wunsch global sequence alignment score — in-row DP.

    The DTW trick (``dtw_profile_distance``) applied to SYMBOL
    sequences with gaps: align two event/tool-call sequences under
    match/mismatch/gap scoring — "do these two agents follow the same
    playbook?" at transcript scale.  The O(n·m) DP runs as the same
    nested Catalyst fold (outer rows, inner columns carrying the
    growing row), n·m bounded by the caller's sequence truncation;
    scores are integer-valued doubles, so the fold is EXACT and any
    engine reproduces it bit-for-bit.

    Adds ``nw_score`` and length-normalized ``nw_sim`` to the pairs.
    """
    a, b = seq_a_col, seq_b_col
    init = f"transform(sequence(0, size({b})), j -> cast(j * {gap} as double))"
    dp = (
        f"aggregate(sequence(1, size({a})), {init},"
        f" (prev, i) -> aggregate(sequence(1, size({b})),"
        f" array(cast(i * {gap} as double)),"
        " (cur, j) -> concat(cur, array(greatest("
        f" try_element_at(prev, j) + if(try_element_at({a}, i) ="
        f" try_element_at({b}, j), cast({match} as double),"
        f" cast({mismatch} as double)),"
        f" try_element_at(prev, j + 1) + {gap},"
        f" try_element_at(cur, -1) + {gap})))))"
    )
    score = F.expr(f"try_element_at({dp}, size({b}) + 1)")
    return pairs.withColumn("nw_score", score).withColumn(
        "nw_sim",
        F.round(
            F.col("nw_score")
            / F.greatest(F.expr(f"size({a})"), F.expr(f"size({b})")),
            6,
        ),
    )


def lof_outliers(
    df: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 1.5,
) -> DataFrame:
    """Local Outlier Factor over an embedding corpus — density-aware
    anomaly scores.

    A global distance cutoff (see ``embedding_hygiene`` norms) misses
    points that are normal for a dense cluster but isolated in a
    sparse one; LOF compares each point's local reachability density
    to its neighbors': LOF ~ 1 inlier, >> 1 outlier.  Built entirely
    from the existing k-NN join (4dp-rounded cosine dissimilarity,
    deterministic id tie-breaks): k-distance per point, reachability
    = max(kdist(neighbor), d), lrd = k/Σreach, LOF = mean(lrd_o)/lrd_p
    — three keyed joins over the bounded k-per-point edge table, no
    pairwise blowup beyond the kNN step (swap in the bucketed kNN at
    scale).
    """
    from .similarity import knn_join_exact

    # dissimilarity floored at one 4dp quantum: coincident points
    # would give sum(reach) = 0 (the classic LOF duplicate
    # degeneracy); the floor keeps lrd finite with LOF ~ 1 for them.
    nn = (
        knn_join_exact(df, df, k=k + 1, vec_col=vec_col,
                       left_id=id_col, right_id=id_col)
        .filter(F.col("neighbor_id") != F.col(id_col))
        .withColumn(
            "d",
            F.greatest(F.round(1 - F.col("sim"), 4), F.lit(0.0001)),
        )
    )
    w = Window.partitionBy(id_col).orderBy("d", "neighbor_id")
    nn = nn.withColumn("_rk", F.row_number().over(w)).filter(
        F.col("_rk") <= k
    )
    # the edge table feeds three downstream joins — materialize once
    # (it is k rows per point, tiny relative to the kNN compute).
    nn = nn.localCheckpoint(eager=True)
    kdist = nn.groupBy(id_col).agg(F.max("d").alias("_kdist"))
    reach = nn.join(
        kdist.select(
            F.col(id_col).alias("neighbor_id"),
            F.col("_kdist").alias("_kdist_o"),
        ),
        "neighbor_id",
    ).withColumn("_reach", F.greatest(F.col("_kdist_o"), F.col("d")))
    lrd = reach.groupBy(id_col).agg(
        (F.count(F.lit(1)) / F.sum("_reach")).alias("_lrd")
    )
    lof = (
        nn.select(id_col, "neighbor_id")
        .join(
            lrd.select(
                F.col(id_col).alias("neighbor_id"),
                F.col("_lrd").alias("_lrd_o"),
            ),
            "neighbor_id",
        )
        .groupBy(id_col)
        .agg(F.avg("_lrd_o").alias("_mean_lrd_o"))
        .join(lrd, id_col)
    )
    return lof.select(
        id_col,
        F.round(F.col("_lrd"), 6).alias("lrd"),
        F.round(F.col("_mean_lrd_o") / F.col("_lrd"), 6).alias("lof"),
        (F.col("_mean_lrd_o") / F.col("_lrd") > threshold).alias(
            "is_outlier"
        ),
    )


def stratified_kfold(
    df: DataFrame,
    class_cols: list[str],
    id_col: str,
    k: int = 5,
) -> DataFrame:
    """Deterministic stratified k-fold assignment — balanced CV splits
    without RNG state.

    ``train_val_test_split`` cuts by hash ratio (fold sizes drift with
    the hash); cross-validation needs EXACT per-class balance: within
    each class, order rows by the portable md5 priority (id
    tie-break) and deal them round-robin — every class lands within
    ±1 row per fold, the strongest balance guarantee possible, and
    the assignment is stable under repartition/resume/engine swap.
    One keyed window per class partition.
    """
    pri = F.md5(F.col(id_col).cast("string"))
    w = Window.partitionBy(*class_cols).orderBy(pri, F.col(id_col))
    return df.withColumn(
        "fold", ((F.row_number().over(w) - 1) % k).cast("int")
    )


def holm_bonferroni(
    tests: DataFrame,
    id_col: str,
    p_col: str,
    alpha: float = 0.05,
) -> DataFrame:
    """Holm-Bonferroni step-down — the FWER companion to ``bh_fdr``.

    BH controls the false-DISCOVERY rate (some false positives
    tolerated); Holm controls the family-wise error (ANY false
    positive), the right guard when a single flagged alert pages a
    human.  Adjusted p_(k) = running MAX over ascending ranks of
    min(1, (m−k+1)·p_(k)) — one ordered window over the bounded test
    table, uniformly more powerful than plain Bonferroni, no
    independence assumption.
    """
    w_rank = Window.orderBy(F.col(p_col).asc(), F.col(id_col).asc())
    w_run = Window.orderBy("rank").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    r = tests.select(
        id_col, p_col,
        F.count(F.lit(1)).over(
            Window.partitionBy()
        ).alias("m"),
        F.row_number().over(w_rank).alias("rank"),
    )
    padj = F.least(
        F.lit(1.0),
        F.max(
            (F.col("m") - F.col("rank") + 1).cast("double")
            * F.col(p_col)
        ).over(w_run),
    )
    return r.select(
        id_col,
        F.round(F.col(p_col), 8).alias("p"),
        F.col("rank").cast("int").alias("rank"),
        F.round(padj, 8).alias("p_adj"),
        (padj <= alpha).alias("reject"),
    )


def viterbi_burst_states(
    df: DataFrame,
    group_cols: list[str],
    order_col: str,
    obs_col: str,
    stay_w: int = 2,
    emit_w: int = 3,
) -> DataFrame:
    """Two-state Viterbi decoding of burst/quiet regimes — the
    max-likelihood path a per-point threshold can't give you.

    A point threshold flickers on every borderline hour; the Viterbi
    path charges state SWITCHES, so one quiet hour inside a burst
    stays labeled burst (the Kleinberg burst-detection shape).
    Scores are INTEGER log-prob ratios (stay = +``stay_w``, switch =
    +0, emission agreeing with the state = +``emit_w``) — exact
    arithmetic, so the argmax path is deterministic in any engine
    (ties prefer staying; libm never enters).  The recurrence folds
    IN-ROW per collected bounded series (the kalman_level contract:
    rollup series, not raw events), carrying both state paths.

    Input ``obs_col`` is the binarized observation (0 quiet / 1
    burst-ish).  Output: one row per point with the decoded state.
    """
    base = df.select(
        *group_cols,
        F.col(order_col).cast("long").alias("_o"),
        F.col(obs_col).cast("int").alias("_y"),
    )
    ser = base.groupBy(*group_cols).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("_o", "_y"))),
            lambda e: e["_y"],
        ).alias("_ys"),
        F.array_sort(F.collect_list("_o")).alias("_os"),
    )
    s, e = stay_w, emit_w
    fold = (
        "aggregate(slice(_ys, 2, size(_ys) - 1),"
        " named_struct("
        f" 'd0', cast(if(_ys[0] = 0, {e}, 0) as bigint),"
        f" 'd1', cast(if(_ys[0] = 1, {e}, 0) as bigint),"
        " 'p0', array(0), 'p1', array(1)),"
        " (acc, y) -> named_struct("
        f" 'd0', greatest(acc.d0 + {s}, acc.d1)"
        f"   + cast(if(y = 0, {e}, 0) as bigint),"
        f" 'd1', greatest(acc.d1 + {s}, acc.d0)"
        f"   + cast(if(y = 1, {e}, 0) as bigint),"
        f" 'p0', concat(if(acc.d0 + {s} >= acc.d1, acc.p0, acc.p1),"
        "   array(0)),"
        f" 'p1', concat(if(acc.d1 + {s} >= acc.d0, acc.p1, acc.p0),"
        "   array(1))))"
    )
    dec = ser.withColumn("_v", F.expr(fold)).withColumn(
        "_path",
        F.expr("if(_v.d1 > _v.d0, _v.p1, _v.p0)"),
    )
    return dec.select(
        *group_cols,
        F.posexplode(F.arrays_zip("_os", "_path")).alias("_i", "_z"),
    ).select(
        *group_cols,
        F.col("_z._os").alias(order_col),
        F.col("_z._path").alias("state"),
    )


GMM_ITERS = 10


def gmm_em_2comp(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    iters: int = GMM_ITERS,
) -> DataFrame:
    """Two-component 1-D Gaussian mixture via EM — fixed-iteration,
    engine-reproducible.

    The model behind "is this latency distribution actually TWO
    populations?" (cache hit/miss, warm/cold path): per group, EM
    alternates per-row responsibilities (Spark does this over the
    full table — the scale-bearing step) and 5-parameter updates
    (driver math on collected per-group sums — the k-means/markov
    precedent).  Determinism contract: ``iters`` is FIXED and the
    parameters are ROUNDED to 9dp after init and every update, so an
    independent engine re-running the same schedule converges through
    IDENTICAL parameter states (fold noise is quenched each round);
    the normalizing 1/sqrt(2pi) cancels in the responsibility ratio
    and is omitted.  Components are mu-ordered on output.
    """
    x = F.col(value_col).cast("double")
    init = df.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n"),
        F.avg(x).alias("mu"),
        F.stddev_samp(x).alias("sd"),
    ).collect()
    key = lambda r: tuple(r[c] for c in group_cols)  # noqa: E731
    params = {
        key(r): (
            0.5,
            round(r["mu"] - r["sd"], 9),
            round(r["sd"], 9),
            round(r["mu"] + r["sd"], 9),
            round(r["sd"], 9),
        )
        for r in init
        if r["sd"] and r["sd"] > 0
    }
    gcol = F.concat_ws("|", *[F.col(c).cast("string") for c in group_cols])

    def case_of(idx):
        c = None
        for k, p in params.items():
            kstr = "|".join(str(v) for v in k)
            w = F.when(gcol == kstr, F.lit(p[idx]))
            c = w if c is None else c.when(gcol == kstr, F.lit(p[idx]))
        return c

    for _ in range(iters):
        w1, m1, s1, m2, s2 = (case_of(i) for i in range(5))
        phi1 = F.exp(-(x - m1) * (x - m1) / (2 * s1 * s1)) / s1
        phi2 = F.exp(-(x - m2) * (x - m2) / (2 * s2 * s2)) / s2
        r = w1 * phi1 / (w1 * phi1 + (1 - w1) * phi2)
        agg = df.groupBy(*group_cols).agg(
            F.count(F.lit(1)).cast("double").alias("n"),
            F.sum(r).alias("sr"),
            F.sum(r * x).alias("srx"),
            F.sum(r * x * x).alias("srxx"),
            F.sum((1 - r) * x).alias("scx"),
            F.sum((1 - r) * x * x).alias("scxx"),
        ).collect()
        nxt = {}
        for row in agg:
            k = key(row)
            if k not in params:
                continue
            n, sr = row["n"], row["sr"]
            sc = n - sr
            m1n = row["srx"] / sr
            s1n = (
                max(row["srxx"] / sr - (row["srx"] / sr)
                    * (row["srx"] / sr), 1e-6) ** 0.5
            )
            m2n = row["scx"] / sc
            s2n = (
                max(row["scxx"] / sc - (row["scx"] / sc)
                    * (row["scx"] / sc), 1e-6) ** 0.5
            )
            nxt[k] = (
                round(sr / n, 9), round(m1n, 9), round(s1n, 9),
                round(m2n, 9), round(s2n, 9),
            )
        params = nxt
    spark = df.sparkSession
    rows = []
    for k, (w1v, m1v, s1v, m2v, s2v) in sorted(params.items()):
        if m1v <= m2v:
            rows.append(k + (round(w1v, 6), round(m1v, 6), round(s1v, 6),
                             round(m2v, 6), round(s2v, 6)))
        else:
            rows.append(k + (round(1 - w1v, 6), round(m2v, 6),
                             round(s2v, 6), round(m1v, 6),
                             round(s1v, 6)))
    schema = ", ".join(f"{c} string" for c in group_cols) + (
        ", weight1 double, mu1 double, sigma1 double,"
        " mu2 double, sigma2 double"
    )
    return spark.createDataFrame(rows, schema)


def ndv_from_sample_gee(
    df: DataFrame,
    group_cols: list[str],
    key_col: str,
    row_id_col: str,
    sample_pct: int = 10,
) -> DataFrame:
    """Distinct-value (NDV) estimation from a deterministic sample —
    the query-optimizer stats problem.

    ``linear_counting``/``hll_distinct`` stream EVERY row; a stats
    collector often may only SAMPLE ROWS.  Scaling the sampled
    distinct count d by 1/q over-counts hot-key corpora (every hot
    key is in any sample; only the rare tail scales); the Goodman/GEE
    singleton correction fixes exactly that:
    NDV_hat = d + (1/q − 1)·f1, where f1 = values seen exactly ONCE
    in the sample — a value sampled once is (almost always) a rare
    value, of which ~(1/q − 1) others were missed per one seen.
    Row sampling is the portable md5 bucket of ``row_id_col`` (NOT of
    the key — hashing the key is value-sampling, under which plain
    d/q is already unbiased and f1 means something else entirely).

    Two bounded aggregates (per-value sample counts -> d, f1);
    ``exact_ndv`` rides along so the audit reads directly.
    """
    from .telemetry import sample_bucket

    q = sample_pct / 100.0
    sampled = df.filter(
        sample_bucket(F.col(row_id_col), 100) < sample_pct
    )
    per_val = sampled.groupBy(
        *group_cols, F.col(key_col).alias("_v")
    ).agg(F.count(F.lit(1)).alias("_c"))
    est = per_val.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("d_sample"),
        F.sum((F.col("_c") == 1).cast("long")).alias("f1"),
    )
    exact = df.groupBy(*group_cols).agg(
        F.count_distinct(F.col(key_col)).alias("exact_ndv")
    )
    gee = F.col("d_sample") + (1.0 / q - 1.0) * F.col("f1")
    return est.join(exact, list(group_cols)).select(
        *group_cols, "d_sample", "f1",
        F.round(gee, 2).alias("ndv_estimate"),
        "exact_ndv",
        F.round(gee / F.col("exact_ndv"), 4).alias("ratio"),
    )


def pot_gpd_fit(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    threshold_q: float = 0.9,
    return_n: int = 1000,
) -> DataFrame:
    """Peaks-over-threshold GPD fit (method of moments) — practical
    EVT beside ``gumbel_return_level``.

    Block maxima (Gumbel) throw away all but one point per block; POT
    keeps EVERY exceedance over a high threshold u and fits the
    Generalized Pareto to the excesses — the estimator practitioners
    actually use for "what p99.99 should we provision for".  Moment
    fit: xi = 0.5·(1 − m²/v), beta = 0.5·m·(1 + m²/v) from excess
    mean/variance; return level x_N = u + beta/xi·((N·p_u)^xi − 1)
    with p_u the exceedance rate.  Threshold = exact per-group
    quantile (rounded 6dp before the excess pass so both engines cut
    the identical set); two aggregates, no sorts beyond the bounded
    percentile.
    """
    x = F.col(value_col).cast("double")
    thr = df.groupBy(*group_cols).agg(
        F.round(
            F.expr(f"percentile({value_col}, {threshold_q})"), 6
        ).alias("u"),
        F.count(F.lit(1)).alias("n_total"),
    )
    exc = (
        df.join(thr, list(group_cols))
        .filter(x > F.col("u"))
        .select(*group_cols, "u", "n_total", (x - F.col("u")).alias("e"))
    )
    a = exc.groupBy(*group_cols, "u", "n_total").agg(
        F.count(F.lit(1)).cast("double").alias("k"),
        F.avg("e").alias("m"),
        F.var_samp("e").alias("v"),
    ).filter(F.col("v") > 0)
    xi = 0.5 * (1 - F.col("m") * F.col("m") / F.col("v"))
    beta = (
        0.5 * F.col("m") * (1 + F.col("m") * F.col("m") / F.col("v"))
    )
    pu = F.col("k") / F.col("n_total")
    rl = F.col("u") + beta / xi * (
        F.pow(F.lit(float(return_n)) * pu, xi) - 1
    )
    return a.select(
        *group_cols,
        F.col("u"),
        F.col("k").cast("bigint").alias("n_exceed"),
        F.round(xi, 6).alias("xi"),
        F.round(beta, 6).alias("beta"),
        F.round(rl, 6).alias("return_level"),
    )


def moe_router_balance(
    df: DataFrame,
    prob_cols: list[str],
    top_col,
) -> DataFrame:
    """Mixture-of-experts router balance audit (Switch/GShard aux-loss
    metrics) — is the router collapsing onto few experts?

    From per-token router probabilities (one column per expert) and
    the realized top-1 assignment: importance_i = mean prob mass to
    expert i, load_i = fraction of tokens routed to i, the Switch
    auxiliary loss  E·Σ load_i·importance_i  (minimized at 1 under
    perfect balance), and the squared coefficient of variation of
    load (GShard's balance readout).  One conditional-aggregate pass;
    output is |experts| rows + the scalar diagnostics repeated — the
    training-telemetry join key is the expert index.
    """
    n_e = len(prob_cols)
    aggs = [F.count(F.lit(1)).cast("double").alias("n")]
    for i, c in enumerate(prob_cols):
        aggs.append(F.avg(F.col(c).cast("double")).alias(f"imp{i}"))
        aggs.append(
            F.avg((top_col == i).cast("double")).alias(f"load{i}")
        )
    a = df.agg(*aggs)
    aux = F.lit(float(n_e)) * sum(
        F.col(f"load{i}") * F.col(f"imp{i}") for i in range(n_e)
    )
    mean_load = sum(F.col(f"load{i}") for i in range(n_e)) / n_e
    var_load = sum(
        (F.col(f"load{i}") - mean_load) * (F.col(f"load{i}") - mean_load)
        for i in range(n_e)
    ) / n_e
    cv2 = var_load / (mean_load * mean_load)
    rows = None
    for i in range(n_e):
        r = a.select(
            F.lit(i).alias("expert"),
            F.round(F.col(f"imp{i}"), 6).alias("importance"),
            F.round(F.col(f"load{i}"), 6).alias("load"),
            F.round(aux, 6).alias("aux_loss"),
            F.round(cv2, 6).alias("load_cv2"),
        )
        rows = r if rows is None else rows.unionByName(r)
    return rows


def iv_2sls(
    df: DataFrame,
    group_cols: list[str],
    z_col: str,
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Instrumental-variable estimate (single instrument, 2SLS closed
    form) — causal slope when the regressor is confounded.

    OLS of y on x is biased when an unobserved factor drives both;
    with an instrument z (moves x, touches y ONLY through x), the
    Wald/2SLS estimator beta_IV = cov(z,y)/cov(z,x) removes the
    bias.  One power-sum pass per group; the first-stage F statistic
    (strength of the instrument — the weak-instrument diagnostic that
    must accompany any IV number) comes from the same sums:
    F = r_zx^2·(n−2)/(1−r_zx^2).  OLS beta rides along so the bias
    being removed is visible.
    """
    z = F.col(z_col).cast("double")
    x = F.col(x_col).cast("double")
    y = F.col(y_col).cast("double")
    a = df.groupBy(*group_cols).agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(z).alias("sz"), F.sum(x).alias("sx"), F.sum(y).alias("sy"),
        F.sum(z * x).alias("szx"), F.sum(z * y).alias("szy"),
        F.sum(x * y).alias("sxy"),
        F.sum(z * z).alias("szz"), F.sum(x * x).alias("sxx"),
    )
    n = F.col("n")
    cov_zy = F.col("szy") / n - F.col("sz") / n * F.col("sy") / n
    cov_zx = F.col("szx") / n - F.col("sz") / n * F.col("sx") / n
    cov_xy = F.col("sxy") / n - F.col("sx") / n * F.col("sy") / n
    var_z = F.col("szz") / n - F.col("sz") / n * F.col("sz") / n
    var_x = F.col("sxx") / n - F.col("sx") / n * F.col("sx") / n
    r2_zx = cov_zx * cov_zx / (var_z * var_x)
    return a.select(
        *group_cols,
        n.cast("bigint").alias("n"),
        F.round(cov_xy / var_x, 6).alias("beta_ols"),
        F.round(cov_zy / cov_zx, 6).alias("beta_iv"),
        F.round(r2_zx * (n - 2) / (1 - r2_zx), 6).alias("first_stage_f"),
    )


def regression_discontinuity(
    df: DataFrame,
    running_col: str,
    y_col: str,
    cutoff: float,
    bandwidth: float,
) -> DataFrame:
    """Sharp regression discontinuity — the jump at a policy cutoff.

    When treatment switches exactly at a threshold of a running
    variable (rate limit kicks in at N requests, alerting at the SLO
    line), the outcome jump AT the cutoff is the causal effect:
    fit separate lines left and right within ``bandwidth`` (power-sum
    OLS on centered r = running − cutoff) and report
    intercept_right − intercept_left, with the two slopes so
    curvature-driven artifacts are inspectable.  One conditional
    aggregate pass; NULL effect when either side is starved
    (< 3 points).
    """
    r = F.col(running_col).cast("double") - cutoff
    y = F.col(y_col).cast("double")
    inb = df.filter(F.abs(r) <= bandwidth)
    side = (r >= 0).cast("int")
    aggs = []
    for s in (0, 1):
        cond = side == s
        cy = F.when(cond, y)
        cr = F.when(cond, r)
        aggs += [
            F.count(cy).cast("double").alias(f"n{s}"),
            F.sum(cy).alias(f"sy{s}"),
            F.sum(cr).alias(f"sr{s}"),
            F.sum(F.when(cond, r * y)).alias(f"sry{s}"),
            F.sum(F.when(cond, r * r)).alias(f"srr{s}"),
        ]
    a = inb.agg(*aggs)

    def fit(s):
        n = F.col(f"n{s}")
        beta = (
            F.col(f"sry{s}") / n
            - F.col(f"sr{s}") / n * F.col(f"sy{s}") / n
        ) / (
            F.col(f"srr{s}") / n
            - F.col(f"sr{s}") / n * F.col(f"sr{s}") / n
        )
        alpha = F.col(f"sy{s}") / n - beta * F.col(f"sr{s}") / n
        return alpha, beta, n

    al, bl, nl = fit(0)
    ar, br, nr = fit(1)
    ok = (nl >= 3) & (nr >= 3)
    return a.select(
        nl.cast("bigint").alias("n_left"),
        nr.cast("bigint").alias("n_right"),
        F.round(F.when(ok, al), 6).alias("intercept_left"),
        F.round(F.when(ok, ar), 6).alias("intercept_right"),
        F.round(F.when(ok, bl), 6).alias("slope_left"),
        F.round(F.when(ok, br), 6).alias("slope_right"),
        F.round(F.when(ok, ar - al), 6).alias("rd_effect"),
    )


def propensity_matching(
    df: DataFrame,
    id_col: str,
    treat_col: str,
    score_col: str,
    y_col: str,
    caliper: float,
) -> DataFrame:
    """Propensity-score matching ATT — compare each treated unit to
    its nearest control BY SCORE, not to the whole control pool.

    A raw treated-vs-control mean difference is confounded by
    whatever drove treatment; matching on the propensity score
    compares like with like.  Nearest-control-by-score is an AS-OF
    problem, solved the asof_join way (no cross join): union both
    arms ordered by (score, id), carry the last/next control's
    (score, y) via two directional windows, pick the nearer one
    within ``caliper``; ATT = mean(y_t − y_matched_control) over
    matched treated units, with the match rate reported (unmatched
    treated units are the overlap-violation diagnostic).
    """
    t = F.col(treat_col).cast("int")
    base = df.select(
        F.col(id_col).alias("_id"), t.alias("_t"),
        F.round(F.col(score_col).cast("double"), 9).alias("_s"),
        F.col(y_col).cast("double").alias("_y"),
    )
    w_up = Window.orderBy("_s", "_id").rowsBetween(
        Window.unboundedPreceding, -1
    )
    w_dn = Window.orderBy("_s", "_id").rowsBetween(
        1, Window.unboundedFollowing
    )
    cs = F.when(F.col("_t") == 0, F.col("_s"))
    cy = F.when(F.col("_t") == 0, F.col("_y"))
    m = base.select(
        "*",
        F.last(cs, ignorenulls=True).over(w_up).alias("_ps"),
        F.last(cy, ignorenulls=True).over(w_up).alias("_py"),
        F.first(cs, ignorenulls=True).over(w_dn).alias("_ns"),
        F.first(cy, ignorenulls=True).over(w_dn).alias("_ny"),
    ).filter(F.col("_t") == 1)
    d_prev = F.abs(F.col("_s") - F.col("_ps"))
    d_next = F.abs(F.col("_ns") - F.col("_s"))
    pick_prev = F.col("_ns").isNull() | (
        F.col("_ps").isNotNull() & (d_prev <= d_next)
    )
    mc = m.select(
        "_id", "_y",
        F.when(pick_prev, F.col("_py")).otherwise(F.col("_ny"))
        .alias("_my"),
        F.when(pick_prev, d_prev).otherwise(d_next).alias("_d"),
    )
    matched = mc.filter(
        F.col("_my").isNotNull() & (F.col("_d") <= caliper)
    )
    return mc.agg(
        F.count(F.lit(1)).alias("n_treated"),
    ).crossJoin(
        matched.agg(
            F.count(F.lit(1)).alias("n_matched"),
            F.round(F.avg(F.col("_y") - F.col("_my")), 6).alias("att"),
        )
    ).select(
        "n_treated", "n_matched",
        F.round(
            F.col("n_matched") / F.col("n_treated").cast("double"), 6
        ).alias("match_rate"),
        "att",
    )


def randomized_response(
    df: DataFrame,
    group_cols: list[str],
    id_col: str,
    sensitive_col,
    p_truth: float = 0.7,
) -> DataFrame:
    """Warner randomized response — LOCAL differential privacy with an
    unbiased group estimator.

    ``dp_noisy_counts`` protects the AGGREGATE (central DP: the
    collector sees truth); randomized response protects each ROW
    before it ever leaves the client: report the true bit with
    probability p, the flip otherwise.  The group rate is then
    recovered unbiased as pi_hat = (lambda + p − 1)/(2p − 1).  The
    flip draw is the portable md5 hash of the row id — deterministic
    (resend-safe, the dp_noisy_counts re-publication argument, and
    the oracle reproduces every flip).  True rate and absolute error
    ride along as the utility audit.
    """
    y = sensitive_col.cast("int")
    u = (
        (
            F.conv(
                F.substring(F.md5(F.col(id_col).cast("string")), 1, 8),
                16, 10,
            ).cast("bigint")
            + F.lit(0.5)
        )
        / F.lit(4294967296.0)
    )
    report = F.when(u < p_truth, y).otherwise(1 - y)
    a = df.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n"),
        F.avg(y.cast("double")).alias("_true"),
        F.avg(report.cast("double")).alias("_lam"),
    )
    est = (F.col("_lam") + p_truth - 1) / (2 * p_truth - 1)
    return a.select(
        *group_cols,
        F.col("n").cast("bigint").alias("n"),
        F.round("_true", 6).alias("true_rate"),
        F.round("_lam", 6).alias("observed_rate"),
        F.round(est, 6).alias("estimated_rate"),
        F.round(F.abs(est - F.col("_true")), 6).alias("abs_err"),
    )


def krippendorff_alpha(
    ratings: DataFrame,
    unit_col: str,
    category_col: str,
) -> DataFrame:
    """Krippendorff's alpha (nominal) — chance-corrected agreement
    that tolerates missing raters.

    Cohen's kappa needs exactly two fixed raters; Fleiss needs equal
    counts per unit; annotation queues for labeling pipelines have
    NEITHER.  Alpha works from the coincidence matrix over whatever
    ratings each unit actually received (units with one rating drop
    out): alpha = 1 − Do/De with
    Do = Σ_u (m_u² − Σ_c n_uc²)/(m_u − 1) and
    De = (n² − Σ_c n_c²)/(n − 1).  Two bounded aggregates over
    (unit, category) counts — pure integer sums into one final ratio.
    """
    per_uc = ratings.groupBy(unit_col, category_col).agg(
        F.count(F.lit(1)).alias("c")
    )
    per_u = per_uc.groupBy(unit_col).agg(
        F.sum("c").alias("m"),
        F.sum(F.col("c") * F.col("c")).alias("sq"),
    ).filter(F.col("m") >= 2)
    do = per_u.agg(
        F.sum(
            (F.col("m") * F.col("m") - F.col("sq")).cast("double")
            / (F.col("m") - 1)
        ).alias("do_total"),
        F.sum("m").cast("double").alias("n"),
    )
    marg = (
        per_uc.join(per_u.select(unit_col), unit_col)
        .groupBy(category_col)
        .agg(F.sum("c").alias("nc"))
        .agg(F.sum(F.col("nc") * F.col("nc")).cast("double").alias("sqc"))
    )
    j = do.crossJoin(marg)
    de = (F.col("n") * F.col("n") - F.col("sqc")) / (F.col("n") - 1)
    # try_divide: a corpus whose kept units all share ONE category has
    # De = 0 — alpha is undefined there, not infinite.
    return j.select(
        F.col("n").cast("bigint").alias("n_ratings"),
        F.round(F.col("do_total"), 6).alias("do_total"),
        F.round(de, 6).alias("de_total"),
        F.round(1 - F.try_divide(F.col("do_total"), de), 6)
        .alias("alpha"),
    )


def capture_recapture(
    df: DataFrame,
    id_col: str,
    s1_pred,
    s2_pred,
) -> DataFrame:
    """Chapman capture-recapture population estimate — how much is the
    pipeline NOT seeing?

    Two independent observation windows (two days, two detectors, two
    scrapers) each see a subset of a population; the overlap tells
    you the whole: N_hat = (n1+1)(n2+1)/(m+1) − 1 (Chapman's
    bias-corrected Lincoln-Petersen).  The dedup-recall / coverage
    question answered without ever enumerating what was missed.  One
    conditional count-distinct pass; the exact count rides along for
    the audit (real deployments don't have it — that's the point).
    """
    i = F.col(id_col)
    a = df.agg(
        F.count_distinct(F.when(s1_pred, i)).alias("n1"),
        F.count_distinct(F.when(s2_pred, i)).alias("n2"),
        F.count_distinct(F.when(s1_pred & s2_pred, i)).alias("m"),
        F.count_distinct(i).alias("exact"),
    )
    est = (
        (F.col("n1") + 1).cast("double") * (F.col("n2") + 1)
        / (F.col("m") + 1)
        - 1
    )
    return a.select(
        "n1", "n2", "m",
        F.round(est, 2).alias("n_estimate"),
        "exact",
        F.round(est / F.col("exact"), 4).alias("ratio"),
    )


def aa_test_calibration(
    df: DataFrame,
    unit_col: str,
    value_col: str,
    n_splits: int = 20,
    z_crit: float = 1.959963984540054,
) -> DataFrame:
    """A/A calibration sweep — is the experimentation pipeline's false
    positive rate actually alpha?

    Before trusting any A/B readout, run the test harness on
    NO-EFFECT splits: ``n_splits`` independent hash-assignments of
    units to fake arms, a Welch z per split; a calibrated pipeline
    rejects ~alpha of them — more means unit contamination (one user
    in both arms, clustered randomization ignored), fewer means
    variance over-estimation.  Splits come from the portable
    md5(unit:rep) parity, exploded map-side (the Poisson-bootstrap
    pattern) — one exchange on (rep,), n_splits bounded.
    """
    x = F.col(value_col).cast("double")
    rep = df.select(
        F.col(unit_col).cast("string").alias("_u"), x.alias("_x")
    ).withColumn("_rep", F.explode(F.expr(f"sequence(1, {n_splits})")))
    arm = (
        F.conv(
            F.substring(
                F.md5(F.concat_ws(":", F.col("_u"), F.col("_rep"))), 1, 8
            ),
            16, 10,
        ).cast("bigint")
        % 2
    )
    w = rep.withColumn("_a", arm)
    per = w.groupBy("_rep").agg(
        F.sum(F.when(F.col("_a") == 0, 1).otherwise(0))
        .cast("double").alias("na"),
        F.sum(F.when(F.col("_a") == 0, F.col("_x"))).alias("sa"),
        F.sum(F.when(F.col("_a") == 0, F.col("_x") * F.col("_x")))
        .alias("qa"),
        F.sum(F.when(F.col("_a") == 1, 1).otherwise(0))
        .cast("double").alias("nb"),
        F.sum(F.when(F.col("_a") == 1, F.col("_x"))).alias("sb"),
        F.sum(F.when(F.col("_a") == 1, F.col("_x") * F.col("_x")))
        .alias("qb"),
    )
    ma = F.col("sa") / F.col("na")
    mb = F.col("sb") / F.col("nb")
    va = (F.col("qa") - F.col("sa") * F.col("sa") / F.col("na")) / (
        F.col("na") - 1
    )
    vb = (F.col("qb") - F.col("sb") * F.col("sb") / F.col("nb")) / (
        F.col("nb") - 1
    )
    z = (ma - mb) / F.sqrt(va / F.col("na") + vb / F.col("nb"))
    return per.select(
        F.col("_rep").alias("split"),
        F.col("na").cast("bigint").alias("n_a"),
        F.col("nb").cast("bigint").alias("n_b"),
        F.round(z, 6).alias("z"),
        (F.abs(z) > z_crit).alias("false_positive"),
    )


def ams_f2_sketch(
    df: DataFrame,
    key_col: str,
    n_estimators: int = 16,
) -> DataFrame:
    """AMS (tug-of-war) F2 sketch — the second frequency moment in
    one pass with bounded state.

    F2 = Σ f_k² is the self-join size / repeat rate — the number a
    join-cost estimator actually needs, and exact F2 requires a full
    per-key aggregation.  The AMS estimator keeps only
    ``n_estimators`` counters: Z_j = Σ_rows s_j(key) with s_j = ±1
    from the portable md5 of (key:j); each Z_j² is an unbiased F2
    estimate and the MEDIAN of estimator means tames the variance.
    Map-side explode of j (Poisson-bootstrap pattern), one (j)
    exchange with 16 groups, then an in-row median over the bounded
    estimate list.  ``exact_f2`` rides along for the audit.
    """
    rep = df.select(
        F.col(key_col).cast("string").alias("_k")
    ).withColumn("_j", F.explode(F.expr(f"sequence(1, {n_estimators})")))
    sign = (
        F.conv(
            F.substring(
                F.md5(F.concat_ws(":", F.col("_k"), F.col("_j"))), 1, 8
            ),
            16, 10,
        ).cast("bigint")
        % 2
        * 2
        - 1
    )
    z = rep.groupBy("_j").agg(F.sum(sign).alias("z"))
    ests = z.agg(
        F.array_sort(
            F.collect_list((F.col("z") * F.col("z")).cast("double"))
        ).alias("_e")
    )
    med = (
        "(try_element_at(_e, cast((size(_e) + 1) / 2 as int))"
        " + try_element_at(_e, cast(size(_e) / 2 + 1 as int))) / 2"
    )
    exact = df.groupBy(F.col(key_col).alias("_k2")).agg(
        F.count(F.lit(1)).alias("_c")
    ).agg(
        F.sum(F.col("_c") * F.col("_c")).alias("exact_f2")
    )
    return ests.crossJoin(exact).select(
        F.lit(n_estimators).alias("n_estimators"),
        F.round(F.expr(med), 2).alias("f2_estimate"),
        F.col("exact_f2").cast("bigint").alias("exact_f2"),
        F.round(F.expr(med) / F.col("exact_f2"), 4).alias("ratio"),
    )


def simpsons_paradox_detect(
    df: DataFrame,
    group_col: str,
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Simpson's paradox detector — does the pooled trend reverse
    inside every stratum?

    The classic analytics integrity failure: x and y trend one way
    overall, the OTHER way within each group (because group membership
    confounds both).  One power-sum pass per group; the pooled slope
    falls out of the summed group sums (no second scan).  Flags
    ``paradox`` when the pooled slope's sign disagrees with the
    majority of group slopes — plus each side's values so the report
    is self-explanatory.
    """
    x = F.col(x_col).cast("double")
    y = F.col(y_col).cast("double")
    per = df.groupBy(group_col).agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(x).alias("sx"), F.sum(y).alias("sy"),
        F.sum(x * y).alias("sxy"), F.sum(x * x).alias("sxx"),
    )
    # the bounded per-group sums feed both branches — materialize so
    # the fact table is scanned exactly once
    per = per.localCheckpoint(eager=True)
    slope = (
        F.col("sxy") / F.col("n")
        - F.col("sx") / F.col("n") * F.col("sy") / F.col("n")
    ) / (
        F.col("sxx") / F.col("n")
        - F.col("sx") / F.col("n") * F.col("sx") / F.col("n")
    )
    g = per.withColumn("slope", F.round(slope, 6))
    pooled = per.agg(
        F.sum("n").alias("n"), F.sum("sx").alias("sx"),
        F.sum("sy").alias("sy"), F.sum("sxy").alias("sxy"),
        F.sum("sxx").alias("sxx"),
    ).select(F.round(slope, 6).alias("pooled_slope"))
    agg = g.agg(
        F.count(F.lit(1)).alias("n_groups"),
        F.sum((F.col("slope") > 0).cast("long")).alias("n_pos"),
        F.sum((F.col("slope") < 0).cast("long")).alias("n_neg"),
        F.round(F.avg("slope"), 6).alias("mean_group_slope"),
    ).crossJoin(pooled)
    majority_sign = F.when(
        F.col("n_pos") > F.col("n_neg"), 1.0
    ).when(F.col("n_neg") > F.col("n_pos"), -1.0).otherwise(0.0)
    return agg.select(
        "n_groups", "n_pos", "n_neg", "mean_group_slope",
        "pooled_slope",
        (
            (majority_sign * F.col("pooled_slope") < 0)
            & (majority_sign != 0)
        ).alias("paradox"),
    )


def mediation_analysis(
    df: DataFrame,
    x_col: str,
    m_col: str,
    y_col: str,
) -> DataFrame:
    """Baron-Kenny mediation decomposition — HOW does x move y?

    Three closed-form regressions from one power-sum pass:
    total effect c (y ~ x), the a-path (m ~ x), and the b-path /
    direct effect c' from the two-regressor fit y ~ x + m (2x2 normal
    equations, no matrix library).  Indirect = a·b, and
    proportion_mediated = a·b / c — the number that says whether the
    metric moved through the hypothesized mechanism or around it.
    """
    x = F.col(x_col).cast("double")
    m = F.col(m_col).cast("double")
    y = F.col(y_col).cast("double")
    a = df.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(x).alias("sx"), F.sum(m).alias("sm"), F.sum(y).alias("sy"),
        F.sum(x * x).alias("sxx"), F.sum(m * m).alias("smm"),
        F.sum(x * m).alias("sxm"), F.sum(x * y).alias("sxy"),
        F.sum(m * y).alias("smy"),
    )
    n = F.col("n")
    vxx = F.col("sxx") / n - F.col("sx") / n * F.col("sx") / n
    vmm = F.col("smm") / n - F.col("sm") / n * F.col("sm") / n
    vxm = F.col("sxm") / n - F.col("sx") / n * F.col("sm") / n
    vxy = F.col("sxy") / n - F.col("sx") / n * F.col("sy") / n
    vmy = F.col("smy") / n - F.col("sm") / n * F.col("sy") / n
    c_total = vxy / vxx
    a_path = vxm / vxx
    det = vxx * vmm - vxm * vxm
    c_direct = (vxy * vmm - vmy * vxm) / det
    b_path = (vmy * vxx - vxy * vxm) / det
    return a.select(
        n.cast("bigint").alias("n"),
        F.round(c_total, 6).alias("total_effect"),
        F.round(a_path, 6).alias("a_path"),
        F.round(b_path, 6).alias("b_path"),
        F.round(c_direct, 6).alias("direct_effect"),
        F.round(a_path * b_path, 6).alias("indirect_effect"),
        F.round(a_path * b_path / c_total, 6).alias("prop_mediated"),
    )


def adtributor_rootcause(
    df: DataFrame,
    dim_cols: list[str],
    period_pred,
    top_k: int = 3,
) -> DataFrame:
    """Adtributor-style root-cause decomposition — WHICH dimension
    value drove the KPI change between two windows?

    The on-call question after every spike.  For each dimension, each
    value's before/after count shares (Laplace-smoothed) give:
    explanatory power EP = (q_v − p_v)/(Q − P) (its share of the
    total change) and surprise = 0.5·(p̂·ln(p̂/m) + q̂·ln(q̂/m)) with
    m the mixture — the JS-style score that separates "grew because
    everything grew" from "grew anomalously".  Per dimension the
    ``top_k`` values by surprise (ties by value) are reported with
    both numbers, so the answer reads: "the change is 78% explained
    by event_type=error, and that growth is the most surprising".

    One conditional-aggregate pass per dimension over (dim value,
    window) counts — every table is bounded by dimension cardinality.
    """
    out = None
    in_b = period_pred.cast("int")
    for dim in dim_cols:
        per = df.groupBy(F.col(dim).cast("string").alias("value")).agg(
            F.sum(1 - in_b).alias("n_before"),
            F.sum(in_b).alias("n_after"),
        )
        tot = per.agg(
            F.sum("n_before").cast("double").alias("P"),
            F.sum("n_after").cast("double").alias("Q"),
            F.count(F.lit(1)).cast("double").alias("V"),
        )
        j = per.crossJoin(tot)
        p_hat = (F.col("n_before") + 1) / (F.col("P") + F.col("V"))
        q_hat = (F.col("n_after") + 1) / (F.col("Q") + F.col("V"))
        mmix = (p_hat + q_hat) / 2
        surprise = 0.5 * (
            p_hat * F.log(p_hat / mmix) + q_hat * F.log(q_hat / mmix)
        )
        ep = F.try_divide(
            F.col("n_after") - F.col("n_before"),
            F.col("Q") - F.col("P"),
        )
        scored = j.select(
            F.lit(dim).alias("dimension"),
            "value", "n_before", "n_after",
            F.round(ep, 6).alias("explanatory_power"),
            F.round(surprise, 8).alias("surprise"),
        )
        w = Window.partitionBy(F.lit(dim)).orderBy(
            F.col("surprise").desc(), F.col("value")
        )
        top = scored.withColumn("rank", F.row_number().over(w)).filter(
            F.col("rank") <= top_k
        )
        out = top if out is None else out.unionByName(top)
    return out


def hotelling_t2(
    df: DataFrame,
    split_pred,
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Hotelling's T² two-sample mean-shift test in 2-D — the
    multivariate Welch.

    Two univariate z-tests miss a shift along the correlation
    diagonal; T² = (n1·n2/(n1+n2))·d' S⁻¹ d with the pooled 2x2
    covariance inverted in closed form charges direction correctly.
    The F-transform (n1+n2−3)/(2(n1+n2−2))·T² ~ F(2, n−3) gives the
    decision; the 95% critical value for large n approaches
    chi²(2)/2 → threshold 3.0 (documented approximation).  One
    conditional power-sum pass.
    """
    s = split_pred.cast("int")
    x = F.col(x_col).cast("double")
    y = F.col(y_col).cast("double")
    aggs = []
    for grp in (0, 1):
        c = s == grp
        aggs += [
            F.sum(F.when(c, 1).otherwise(0)).cast("double")
            .alias(f"n{grp}"),
            F.sum(F.when(c, x)).alias(f"sx{grp}"),
            F.sum(F.when(c, y)).alias(f"sy{grp}"),
            F.sum(F.when(c, x * x)).alias(f"sxx{grp}"),
            F.sum(F.when(c, y * y)).alias(f"syy{grp}"),
            F.sum(F.when(c, x * y)).alias(f"sxy{grp}"),
        ]
    a = df.agg(*aggs)
    n1, n2 = F.col("n0"), F.col("n1")
    mx = [F.col(f"sx{g}") / F.col(f"n{g}") for g in (0, 1)]
    my = [F.col(f"sy{g}") / F.col(f"n{g}") for g in (0, 1)]
    # pooled within-group covariance
    ssxx = sum(
        F.col(f"sxx{g}")
        - F.col(f"sx{g}") * F.col(f"sx{g}") / F.col(f"n{g}")
        for g in (0, 1)
    )
    ssyy = sum(
        F.col(f"syy{g}")
        - F.col(f"sy{g}") * F.col(f"sy{g}") / F.col(f"n{g}")
        for g in (0, 1)
    )
    ssxy = sum(
        F.col(f"sxy{g}")
        - F.col(f"sx{g}") * F.col(f"sy{g}") / F.col(f"n{g}")
        for g in (0, 1)
    )
    dof = n1 + n2 - 2
    vxx, vyy, vxy = ssxx / dof, ssyy / dof, ssxy / dof
    det = vxx * vyy - vxy * vxy
    dx = mx[1] - mx[0]
    dy = my[1] - my[0]
    quad = (dx * (vyy * dx - vxy * dy) + dy * (vxx * dy - vxy * dx)) / det
    t2 = n1 * n2 / (n1 + n2) * quad
    return a.select(
        n1.cast("bigint").alias("n_a"),
        n2.cast("bigint").alias("n_b"),
        F.round(dx, 6).alias("shift_x"),
        F.round(dy, 6).alias("shift_y"),
        F.round(t2, 6).alias("t2"),
        (t2 / 2 > 3.0).alias("shifted"),
    )


def newsvendor_quantile(
    df: DataFrame,
    group_cols: list[str],
    demand_col: str,
    underage_cost: float,
    overage_cost: float,
) -> DataFrame:
    """Newsvendor capacity decision — provision at the critical
    quantile, not the mean.

    Staffing/capacity under asymmetric costs (a dropped request costs
    ``underage_cost``, an idle slot ``overage_cost``) is solved by
    q* = F⁻¹(cu/(cu+co)) of the demand distribution — p99 thinking
    derived instead of decreed.  Per group: the critical ratio
    quantile of observed demand (exact interpolated percentile,
    rounded 6dp) plus the expected cost at q* vs at the MEAN, so the
    "provision at the mean" fallacy is priced in the output.
    """
    cr = underage_cost / (underage_cost + overage_cost)
    d = F.col(demand_col).cast("double")
    qtab = df.groupBy(*group_cols).agg(
        F.round(F.expr(f"percentile({demand_col}, {cr})"), 6)
        .alias("q_star"),
        F.round(F.avg(d), 6).alias("mean_demand"),
        F.count(F.lit(1)).alias("n"),
    )
    j = df.join(qtab, list(group_cols))
    cost_q = (
        underage_cost * F.greatest(d - F.col("q_star"), F.lit(0.0))
        + overage_cost * F.greatest(F.col("q_star") - d, F.lit(0.0))
    )
    cost_m = (
        underage_cost * F.greatest(d - F.col("mean_demand"), F.lit(0.0))
        + overage_cost * F.greatest(F.col("mean_demand") - d, F.lit(0.0))
    )
    return j.groupBy(*group_cols, "q_star", "mean_demand", "n").agg(
        F.round(F.avg(cost_q), 6).alias("exp_cost_at_q"),
        F.round(F.avg(cost_m), 6).alias("exp_cost_at_mean"),
    ).select(
        *group_cols,
        F.lit(round(cr, 6)).alias("critical_ratio"),
        "q_star", "mean_demand", "n",
        "exp_cost_at_q", "exp_cost_at_mean",
    )


def twfe_panel(
    df: DataFrame,
    unit_col: str,
    time_col: str,
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Two-way fixed-effects panel estimator (within transformation).

    ``diff_in_diff`` handles one treatment at one time; panel data
    (unit x period) with a CONTINUOUS regressor wants TWFE: demean x
    and y by unit AND by period (re-adding the grand mean), then OLS
    on the residuals — unit-level confounders and common shocks both
    drop out.  Implemented as two bounded-dimension mean tables
    joined back (no row-level windows) and one power-sum pass;
    exactly the estimate a dummy-variable regression with |units| +
    |periods| columns would give, at none of the cost.
    """
    x = F.col(x_col).cast("double")
    y = F.col(y_col).cast("double")
    um = df.groupBy(unit_col).agg(
        F.avg(x).alias("_ux"), F.avg(y).alias("_uy")
    )
    tm = df.groupBy(time_col).agg(
        F.avg(x).alias("_tx"), F.avg(y).alias("_ty")
    )
    gm = df.agg(
        F.avg(x).alias("_gx"), F.avg(y).alias("_gy")
    )
    j = df.join(um, unit_col).join(tm, time_col).crossJoin(gm)
    xd = x - F.col("_ux") - F.col("_tx") + F.col("_gx")
    yd = y - F.col("_uy") - F.col("_ty") + F.col("_gy")
    a = j.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(xd * yd).alias("sxy"),
        F.sum(xd * xd).alias("sxx"),
        F.sum(yd * yd).alias("syy"),
    )
    beta = F.col("sxy") / F.col("sxx")
    r2 = (
        F.col("sxy") * F.col("sxy") / (F.col("sxx") * F.col("syy"))
    )
    return a.select(
        F.col("n").cast("bigint").alias("n_obs"),
        F.round(beta, 6).alias("beta_within"),
        F.round(r2, 6).alias("r2_within"),
    )


def adstock_fit(
    df: DataFrame,
    group_cols: list[str],
    order_col: str,
    spend_col: str,
    y_col: str,
    decay: float = 0.6,
) -> DataFrame:
    """Geometric adstock transform + response fit — delayed-effect
    regression for spend-like drivers.

    Today's outcome responds to today's spend AND the decayed tail of
    past spend: adstock_t = spend_t + decay·adstock_{t-1}.  The
    recursion folds per collected bounded series (the kalman_level
    contract); the response slope comes from one OLS power-sum pass
    of y on the adstocked series, reported beside the naive
    same-period slope so the carryover that naive attribution misses
    is visible.
    """
    base = df.select(
        *group_cols,
        F.col(order_col).cast("long").alias("_o"),
        F.col(spend_col).cast("double").alias("_s"),
        F.col(y_col).cast("double").alias("_y"),
    )
    ser = base.groupBy(*group_cols).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("_o", "_s"))),
            lambda e: e["_s"],
        ).alias("_ss"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("_o", "_y"))),
            lambda e: e["_y"],
        ).alias("_ys"),
        F.array_sort(F.collect_list("_o")).alias("_os"),
    )
    fold = (
        "aggregate(slice(_ss, 2, size(_ss) - 1),"
        " named_struct('a', _ss[0], 'out', array(_ss[0])),"
        f" (acc, s) -> named_struct('a', s + {decay} * acc.a,"
        f" 'out', concat(acc.out, array(s + {decay} * acc.a))))"
    )
    ad = ser.withColumn("_ad", F.expr(fold).getField("out"))
    rows = ad.select(
        *group_cols,
        F.posexplode(F.arrays_zip("_ad", "_ys")).alias("_i", "_z"),
    ).select(
        *group_cols,
        F.col("_z._ad").alias("a"),
        F.col("_z._ys").alias("yy"),
    )
    # recover raw spend slope from the same pass: a - decay*prev = s;
    # simpler: carry _ss too
    raw = ser.select(
        *group_cols,
        F.posexplode(F.arrays_zip("_ss", "_ys")).alias("_i", "_z"),
    ).select(
        *group_cols,
        F.col("_z._ss").alias("s"),
        F.col("_z._ys").alias("yy"),
    )

    def slope(t, xc):
        return (
            F.sum(F.col(xc) * F.col("yy")) / F.count(F.lit(1))
            - F.sum(xc) / F.count(F.lit(1))
            * F.sum("yy") / F.count(F.lit(1))
        ) / (
            F.sum(F.col(xc) * F.col(xc)) / F.count(F.lit(1))
            - F.sum(xc) / F.count(F.lit(1))
            * F.sum(xc) / F.count(F.lit(1))
        )

    s_ad = rows.groupBy(*group_cols).agg(
        F.round(slope(rows, "a"), 6).alias("beta_adstock"),
        F.count(F.lit(1)).alias("n_points"),
    )
    s_raw = raw.groupBy(*group_cols).agg(
        F.round(slope(raw, "s"), 6).alias("beta_naive")
    )
    return s_ad.join(s_raw, list(group_cols)).select(
        *group_cols, "n_points",
        F.lit(decay).alias("decay"),
        "beta_adstock", "beta_naive",
    )


def quantile_treatment_effect(
    df: DataFrame,
    treat_col: str,
    y_col: str,
    qs: list[float] = (0.1, 0.25, 0.5, 0.75, 0.9),
) -> DataFrame:
    """Quantile treatment effects — WHERE in the distribution the
    effect lands.

    An ATT (see ``propensity_matching``) can be zero while the
    treatment compresses the tails or widens them; the per-quantile
    gap between arms tells the real story (latency work usually moves
    p90, not the median).  Per listed quantile: treated and control
    exact interpolated quantiles (rounded 6dp) and their difference.
    One aggregate with conditional percentiles — no per-quantile
    scans.
    """
    t = F.col(treat_col).cast("int")
    y = F.col(y_col).cast("double")
    aggs = []
    for q in qs:
        tag = str(q).replace(".", "_")
        aggs.append(
            F.round(
                F.expr(
                    f"percentile(if({treat_col} = 1, {y_col}, null),"
                    f" {q})"
                ),
                6,
            ).alias(f"qt_{tag}")
        )
        aggs.append(
            F.round(
                F.expr(
                    f"percentile(if({treat_col} = 0, {y_col}, null),"
                    f" {q})"
                ),
                6,
            ).alias(f"qc_{tag}")
        )
    a = df.select(t.alias(treat_col), y.alias(y_col)).agg(*aggs)
    rows = None
    for q in qs:
        tag = str(q).replace(".", "_")
        r = a.select(
            F.lit(q).alias("quantile"),
            F.col(f"qt_{tag}").alias("treated_q"),
            F.col(f"qc_{tag}").alias("control_q"),
            F.round(
                F.col(f"qt_{tag}") - F.col(f"qc_{tag}"), 6
            ).alias("qte"),
        )
        rows = r if rows is None else rows.unionByName(r)
    return rows


def leave_one_out_influence(
    df: DataFrame,
    group_cols: list[str],
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Leave-one-GROUP-out influence on the global OLS slope — data
    valuation without re-fitting.

    "Which tenant/source is dragging the trend?" answered exactly:
    because the slope is a function of power sums, the slope WITHOUT
    group g is computable from (global sums − g's sums) — every
    leave-one-out refit in a single pass, no k re-scans (the same
    algebra that makes ``partial_agg_merge`` work, run backwards).
    influence_g = slope_without_g − slope: positive means the group
    was suppressing the trend.
    """
    x = F.col(x_col).cast("double")
    y = F.col(y_col).cast("double")
    per = df.groupBy(*group_cols).agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(x).alias("sx"), F.sum(y).alias("sy"),
        F.sum(x * y).alias("sxy"), F.sum(x * x).alias("sxx"),
    )
    # bounded per-group sums feed every leave-one-out refit AND the
    # grand total — materialize so the fact table is scanned once
    per = per.localCheckpoint(eager=True)
    tot = per.agg(
        F.sum("n").alias("tn"), F.sum("sx").alias("tsx"),
        F.sum("sy").alias("tsy"), F.sum("sxy").alias("tsxy"),
        F.sum("sxx").alias("tsxx"),
    )

    def slope(n, sx, sy, sxy, sxx):
        return (sxy / n - sx / n * sy / n) / (
            sxx / n - sx / n * sx / n
        )

    j = per.crossJoin(tot)
    full = slope(
        F.col("tn"), F.col("tsx"), F.col("tsy"),
        F.col("tsxy"), F.col("tsxx"),
    )
    without = slope(
        F.col("tn") - F.col("n"), F.col("tsx") - F.col("sx"),
        F.col("tsy") - F.col("sy"), F.col("tsxy") - F.col("sxy"),
        F.col("tsxx") - F.col("sxx"),
    )
    return j.select(
        *group_cols,
        F.col("n").cast("bigint").alias("n_rows"),
        F.round(full, 6).alias("slope_full"),
        F.round(without, 6).alias("slope_without"),
        F.round(without - full, 6).alias("influence"),
    )


def forecast_combo(
    df: DataFrame,
    group_cols: list[str],
    bucket_col: str,
    value_col: str,
    season: int = 7,
) -> DataFrame:
    """Inverse-MAE forecast combination (naive / seasonal-naive /
    drift) — the M-competition lesson as an operator.

    Three zero-parameter one-step forecasters over the series
    (yesterday, same-day-last-week, yesterday + average step), their
    rolling one-step absolute errors, and the combination weighted by
    inverse MAE.  Reports each model's MAE and the combo's — the
    combo beating every component is the expected (and audited)
    outcome.  One keyed window pass for the lags, one aggregate.
    Requires a dense bucket grid (gap-fill first).
    """
    w = Window.partitionBy(*group_cols).orderBy(bucket_col)
    y = F.col(value_col).cast("double")
    base = df.select(
        *group_cols, F.col(bucket_col), y.alias("_y"),
        F.lag(y, 1).over(w).alias("_naive"),
        F.lag(y, season).over(w).alias("_snaive"),
        (
            F.lag(y, 1).over(w)
            + (F.lag(y, 1).over(w) - F.first(y).over(
                w.rowsBetween(Window.unboundedPreceding,
                              Window.currentRow)
            ))
            / F.greatest(
                F.row_number().over(w) - 2, F.lit(1)
            ).cast("double")
        ).alias("_drift"),
    ).filter(F.col("_snaive").isNotNull())
    per = base.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n_evals"),
        F.avg(F.abs(F.col("_y") - F.col("_naive"))).alias("_m1"),
        F.avg(F.abs(F.col("_y") - F.col("_snaive"))).alias("_m2"),
        F.avg(F.abs(F.col("_y") - F.col("_drift"))).alias("_m3"),
    )
    w1, w2, w3 = (1 / F.col("_m1"), 1 / F.col("_m2"), 1 / F.col("_m3"))
    tot = w1 + w2 + w3
    jw = per.select(
        *group_cols,
        (w1 / tot).alias("_w1"), (w2 / tot).alias("_w2"),
        (w3 / tot).alias("_w3"),
    )
    combo = base.join(jw, list(group_cols)).groupBy(*group_cols).agg(
        F.avg(
            F.abs(
                F.col("_y")
                - (
                    F.col("_w1") * F.col("_naive")
                    + F.col("_w2") * F.col("_snaive")
                    + F.col("_w3") * F.col("_drift")
                )
            )
        ).alias("_mc")
    )
    return per.join(combo, list(group_cols)).select(
        *group_cols, "n_evals",
        F.round("_m1", 6).alias("mae_naive"),
        F.round("_m2", 6).alias("mae_seasonal_naive"),
        F.round("_m3", 6).alias("mae_drift"),
        F.round("_mc", 6).alias("mae_combo"),
        (
            F.col("_mc")
            < F.least(F.col("_m1"), F.col("_m2"), F.col("_m3"))
        ).alias("combo_wins"),
    )


def rmst(
    df: DataFrame,
    unit_col: str,
    ts_col: str,
    horizon_days: int = 7,
    tau_days: int = 14,
) -> DataFrame:
    """Restricted mean survival time — the KM curve as ONE number.

    Median survival is undefined when the curve never crosses 0.5 and
    hazard ratios assume proportional hazards; RMST(tau) = area under
    the KM curve up to tau ("expected days retained within the first
    tau") is assumption-free and budget-meaningful.  Integrates the
    step function from ``km_survival``: the head interval [0, d_1)
    at S = 1 plus each S(d_k)·(min(d_{k+1}, tau) − d_k) — one bounded
    window over the curve table.
    """
    curve = km_survival(df, unit_col, ts_col, horizon_days=horizon_days)
    w = Window.orderBy("duration_day")
    seg = curve.select(
        F.col("duration_day").cast("double").alias("d"),
        F.col("survival"),
        F.coalesce(
            F.lead("duration_day").over(w).cast("double"),
            F.lit(float(tau_days)),
        ).alias("d_next"),
    )
    head = seg.agg(
        F.least(F.min("d"), F.lit(float(tau_days))).alias("_h")
    )
    area = seg.filter(F.col("d") < tau_days).agg(
        F.sum(
            F.col("survival")
            * (F.least(F.col("d_next"), F.lit(float(tau_days)))
               - F.col("d"))
        ).alias("_a")
    )
    return head.crossJoin(area).select(
        F.lit(tau_days).alias("tau_days"),
        F.round(F.col("_h") + F.coalesce(F.col("_a"), F.lit(0.0)), 6)
        .alias("rmst_days"),
    )


# O'Brien-Fleming two-sided 5%-level z boundaries for 5 equally-spaced
# looks (standard published group-sequential table).
OBF_BOUNDS_5 = (4.8769, 3.3569, 2.6803, 2.2898, 2.0310)


def obrien_fleming_looks(
    df: DataFrame,
    look_col: str,
    treat_col: str,
    value_col: str,
    bounds: tuple = OBF_BOUNDS_5,
) -> DataFrame:
    """Group-sequential monitoring with O'Brien-Fleming boundaries —
    peeking done right.

    Checking a fixed-alpha z at every interim look inflates false
    positives several-fold; the OBF spending schedule makes early
    looks very conservative and the final look nearly full-alpha.
    Per look k: the Welch z on ALL data accrued through look k
    (cumulative window over the bounded per-look sums) against the
    pinned boundary; ``crossed`` and the first crossing are reported
    so "when could we have stopped?" reads directly.
    """
    t = F.col(treat_col).cast("int")
    x = F.col(value_col).cast("double")
    per = df.groupBy(F.col(look_col).alias("look")).agg(
        F.sum(t).cast("double").alias("nt"),
        F.sum(F.when(t == 1, x)).alias("st"),
        F.sum(F.when(t == 1, x * x)).alias("qt"),
        F.sum(1 - t).cast("double").alias("nc"),
        F.sum(F.when(t == 0, x)).alias("sc"),
        F.sum(F.when(t == 0, x * x)).alias("qc"),
    )
    w = Window.orderBy("look").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = per.select(
        "look",
        *[
            F.sum(c).over(w).alias(c)
            for c in ("nt", "st", "qt", "nc", "sc", "qc")
        ],
    )
    mt = F.col("st") / F.col("nt")
    mc = F.col("sc") / F.col("nc")
    vt = (F.col("qt") - F.col("st") * F.col("st") / F.col("nt")) / (
        F.col("nt") - 1
    )
    vc = (F.col("qc") - F.col("sc") * F.col("sc") / F.col("nc")) / (
        F.col("nc") - 1
    )
    z = (mt - mc) / F.sqrt(vt / F.col("nt") + vc / F.col("nc"))
    bound = None
    for i, b in enumerate(bounds, start=1):
        cnd = F.when(F.col("look") == i, F.lit(b))
        bound = cnd if bound is None else bound.when(
            F.col("look") == i, F.lit(b)
        )
    scored = cum.select(
        "look",
        (F.col("nt") + F.col("nc")).cast("bigint").alias("n_cum"),
        F.round(z, 6).alias("z"),
        bound.alias("boundary"),
        (F.abs(z) > bound).alias("crossed"),
    )
    wf = Window.orderBy("look").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return scored.withColumn(
        "first_crossing",
        F.col("crossed")
        & (F.sum(F.col("crossed").cast("int")).over(wf) == 1),
    )


def snips_offpolicy(
    df: DataFrame,
    context_col: str,
    arm_col: str,
    reward_col: str,
    logging_prob: float,
    train_pred,
) -> DataFrame:
    """IPS / SNIPS off-policy value estimation with KNOWN logging
    propensities — the weighted sibling of ``bandit_replay_eval``.

    Replay throws away unmatched events; inverse-propensity scoring
    keeps them all with weight w = 1{a = policy(ctx)}/p_log: IPS =
    mean(w·r) is unbiased but high-variance; SNIPS = Σw·r/Σw trades a
    vanishing bias for much lower variance.  The effective sample
    size (Σw)²/Σw² says how much data the weighting really left.
    Policy learned on the train slice (greedy argmax, deterministic
    ties) exactly as in the replay estimator, so the two entries
    cross-check each other.
    """
    r = F.col(reward_col).cast("double")
    train = df.filter(train_pred)
    ev = df.filter(~train_pred)
    per_arm = train.groupBy(context_col, arm_col).agg(
        F.avg(r).alias("_ctr")
    )
    wnd = Window.partitionBy(context_col).orderBy(
        F.col("_ctr").desc(), F.col(arm_col)
    )
    policy = (
        per_arm.withColumn("_rn", F.row_number().over(wnd))
        .filter(F.col("_rn") == 1)
        .select(context_col, F.col(arm_col).alias("_pol"))
    )
    j = ev.join(policy, context_col)
    wgt = (F.col(arm_col) == F.col("_pol")).cast("double") / logging_prob
    return j.groupBy(context_col).agg(
        F.max("_pol").alias("policy_arm"),
        F.count(F.lit(1)).alias("n_eval"),
        F.round(F.avg(wgt * r), 6).alias("ips_value"),
        F.round(F.sum(wgt * r) / F.sum(wgt), 6).alias("snips_value"),
        F.round(
            F.sum(wgt) * F.sum(wgt) / F.sum(wgt * wgt), 2
        ).alias("ess"),
        F.round(F.avg(r), 6).alias("logging_value"),
    )


def conformance_fitness(
    df: DataFrame,
    unit_col: str,
    order_cols: list[str],
    act_col: str,
    allowed: list[tuple],
    start_token: str = "START",
) -> DataFrame:
    """Process-mining conformance (token-replay-lite) — how well do
    real journeys follow the normative model?

    ``event_transition_matrix`` DESCRIBES what happens; conformance
    checking JUDGES it against the designed process: per unit, the
    fraction of direct moves (START -> first, then each consecutive
    pair) permitted by the ``allowed`` transition set.  One keyed lag
    window + a broadcast-size join against the literal model edges;
    outputs the per-unit fitness distribution summary plus the fully
    conformant share — the audit number a process owner tracks.
    """
    w = Window.partitionBy(unit_col).orderBy(*order_cols)
    moves = df.select(
        F.col(unit_col).alias("_u"),
        F.coalesce(
            F.lag(F.col(act_col)).over(w), F.lit(start_token)
        ).alias("f"),
        F.col(act_col).alias("t"),
    )
    spark = df.sparkSession
    model = spark.range(1).select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(a).alias("f"), F.lit(b).alias("t"),
                        F.lit(1).alias("_ok"),
                    )
                    for a, b in allowed
                ]
            )
        ).alias("_e")
    ).select("_e.f", "_e.t", "_e._ok")
    scored = moves.join(model, ["f", "t"], "left")
    per = scored.groupBy("_u").agg(
        F.count(F.lit(1)).alias("_moves"),
        F.sum(F.coalesce("_ok", F.lit(0))).alias("_good"),
    ).select(
        "_u",
        (F.col("_good") / F.col("_moves").cast("double")).alias("_fit"),
    )
    return per.agg(
        F.count(F.lit(1)).alias("n_units"),
        F.round(F.avg("_fit"), 6).alias("mean_fitness"),
        F.round(
            F.avg((F.col("_fit") == 1.0).cast("double")), 6
        ).alias("fully_conformant_rate"),
        F.round(F.min("_fit"), 6).alias("min_fitness"),
    )


def usl_fit(
    df: DataFrame,
    n_col: str,
    x_col: str,
) -> DataFrame:
    """Universal Scalability Law fit (Gunther) — sigma, kappa, and the
    concurrency peak from measured throughput.

    THE model behind every scaling-efficiency curve this repo
    benchmarks: X(N) = lambda·N / (1 + sigma·(N−1) + kappa·N·(N−1)),
    contention sigma flattens the curve, coherency kappa makes it
    RETROGRADE.  Linearized exactly: y = N/X is quadratic in N with
    regressors u = N−1, v = N(N−1); the 3x3 normal equations solve by
    Cramer in-row (one power-sum pass).  Reports lambda, sigma,
    kappa, and N* = sqrt((1−sigma)/kappa) — the concurrency beyond
    which adding workers LOSES throughput.
    """
    n = F.col(n_col).cast("double")
    y = n / F.col(x_col).cast("double")
    u = n - 1
    v = n * (n - 1)
    base = df.select(y.alias("y"), u.alias("u"), v.alias("v"))
    a = base.agg(
        F.count(F.lit(1)).cast("double").alias("m"),
        F.sum("u").alias("su"), F.sum("v").alias("sv"),
        F.sum("y").alias("sy"),
        F.sum(F.col("u") * F.col("u")).alias("suu"),
        F.sum(F.col("u") * F.col("v")).alias("suv"),
        F.sum(F.col("v") * F.col("v")).alias("svv"),
        F.sum(F.col("u") * F.col("y")).alias("suy"),
        F.sum(F.col("v") * F.col("y")).alias("svy"),
    )
    m, su, sv = F.col("m"), F.col("su"), F.col("sv")
    suu, suv, svv = F.col("suu"), F.col("suv"), F.col("svv")
    sy, suy, svy = F.col("sy"), F.col("suy"), F.col("svy")

    def det3(r1, r2, r3):
        return (
            r1[0] * (r2[1] * r3[2] - r2[2] * r3[1])
            - r1[1] * (r2[0] * r3[2] - r2[2] * r3[0])
            + r1[2] * (r2[0] * r3[1] - r2[1] * r3[0])
        )

    A = [[m, su, sv], [su, suu, suv], [sv, suv, svv]]
    b = [sy, suy, svy]
    d = det3(*A)
    coef = []
    for k in range(3):
        Ak = [
            [b[i] if j == k else A[i][j] for j in range(3)]
            for i in range(3)
        ]
        coef.append(det3(*Ak) / d)
    a0, b1, c2 = coef
    lam = 1 / a0
    sigma = b1 / a0
    kappa = c2 / a0
    nstar = F.sqrt((1 - sigma) / kappa)
    return a.select(
        F.col("m").cast("bigint").alias("n_points"),
        F.round(lam, 6).alias("lambda_1"),
        F.round(sigma, 6).alias("sigma"),
        F.round(kappa, 6).alias("kappa"),
        F.round(F.when(kappa > 0, nstar), 2).alias("n_peak"),
    )


def brunner_munzel(
    df: DataFrame,
    split_pred,
    value_col: str,
    grid=None,
) -> DataFrame:
    """Brunner-Munzel test — Mann-Whitney without the equal-variance
    fiction.

    MW's null is exchangeability; under unequal variances its level
    is wrong.  BM tests P(X < Y) + ½P(X = Y) = ½ directly with a
    studentized statistic.  All rank machinery runs on the BOUNDED
    floor-bucket grid (the ks/cvm discipline): combined and
    within-group MIDRANKS per bucket from cumulative counts, variance
    terms as bucket-weighted sums — never a row-level sort.
    Outputs p_hat (the stochastic-superiority effect size) and the
    z-approximated decision at 1.96.
    """
    v = grid if grid is not None else F.floor(F.col(value_col))
    h = df.select(
        v.alias("v"),
        F.when(split_pred, 1).otherwise(0).alias("g"),
    ).groupBy("v").agg(
        F.sum(1 - F.col("g")).alias("c1"),
        F.sum("g").alias("c2"),
    )
    wc = Window.orderBy("v").rowsBetween(
        Window.unboundedPreceding, -1
    )
    r = h.select(
        "v", "c1", "c2",
        F.coalesce(F.sum(F.col("c1") + F.col("c2")).over(wc), F.lit(0))
        .alias("cb"),
        F.coalesce(F.sum("c1").over(wc), F.lit(0)).alias("cb1"),
        F.coalesce(F.sum("c2").over(wc), F.lit(0)).alias("cb2"),
    )
    # midranks: combined and within-group, per bucket
    r = r.select(
        "*",
        (F.col("cb") + (F.col("c1") + F.col("c2") + 1) / 2.0)
        .alias("rm"),
        (F.col("cb1") + (F.col("c1") + 1) / 2.0).alias("r1"),
        (F.col("cb2") + (F.col("c2") + 1) / 2.0).alias("r2"),
    )
    tot = r.agg(
        F.sum("c1").cast("double").alias("n1"),
        F.sum("c2").cast("double").alias("n2"),
        F.sum(F.col("c1") * F.col("rm")).alias("sr1"),
        F.sum(F.col("c2") * F.col("rm")).alias("sr2"),
    )
    j = r.crossJoin(tot)
    rb1 = F.col("sr1") / F.col("n1")
    rb2 = F.col("sr2") / F.col("n2")
    d1 = F.col("rm") - F.col("r1") - rb1 + (F.col("n1") + 1) / 2.0
    d2 = F.col("rm") - F.col("r2") - rb2 + (F.col("n2") + 1) / 2.0
    a = j.agg(
        F.max("n1").alias("n1"), F.max("n2").alias("n2"),
        F.max(rb1).alias("rb1"), F.max(rb2).alias("rb2"),
        (F.sum(F.col("c1") * d1 * d1)
         / (F.max("n1") - 1)).alias("s1"),
        (F.sum(F.col("c2") * d2 * d2)
         / (F.max("n2") - 1)).alias("s2"),
    )
    n1, n2 = F.col("n1"), F.col("n2")
    nn = n1 + n2
    phat = (F.col("rb2") - (n2 + 1) / 2.0) / n1
    # canonical (lawstat) form:
    # W = n1·n2·(R̄2−R̄1) / ((n1+n2)·sqrt(n1·S1² + n2·S2²))
    wbm = (
        n1 * n2 * (F.col("rb2") - F.col("rb1"))
        / (nn * F.sqrt(n1 * F.col("s1") + n2 * F.col("s2")))
    )
    return a.select(
        n1.cast("bigint").alias("n_a"),
        n2.cast("bigint").alias("n_b"),
        F.round(phat, 6).alias("p_hat"),
        F.round(wbm, 6).alias("bm_stat"),
        (F.abs(wbm) > 1.959963984540054).alias("significant"),
    )


def composite_slo(
    df: DataFrame,
    service_col: str,
    ok_col,
    serial_groups: dict,
    quorum: tuple = None,
) -> DataFrame:
    """Composite SLO arithmetic — what availability does the SYSTEM
    offer, given what each service measured?

    Per-service availability from the event stream, then the SRE
    composition rules over a declared topology: a serial chain
    multiplies availabilities, a redundant pair survives unless both
    fail (1 − Π(1−a)), and a k-of-n quorum sums the binomial tail
    (n <= 5, expanded exactly in-row).  Output: each composed tier
    with its availability and the equivalent monthly downtime minutes
    — the number the SLA is written in.

    ``serial_groups`` maps tier name -> (mode, [services]) with mode
    in {'serial', 'parallel'}; ``quorum`` = (tier, k, [services]).
    """
    from itertools import combinations

    a = df.groupBy(F.col(service_col).alias("svc")).agg(
        F.avg(ok_col.cast("double")).alias("avail")
    )
    wide = a.groupBy().pivot("svc").agg(F.first("avail"))
    rows = []
    for tier, (mode, svcs) in serial_groups.items():
        cols = [F.col(s) for s in svcs]
        if mode == "serial":
            expr = cols[0]
            for c in cols[1:]:
                expr = expr * c
        else:  # parallel
            fail = (1 - cols[0])
            for c in cols[1:]:
                fail = fail * (1 - c)
            expr = 1 - fail
        rows.append((tier, mode, expr))
    if quorum:
        tier, k, svcs = quorum
        n = len(svcs)
        terms = None
        # P(at least k up) over all up-subsets of size >= k
        for m in range(k, n + 1):
            for combo in combinations(range(n), m):
                term = F.lit(1.0)
                for i in range(n):
                    c = F.col(svcs[i])
                    term = term * (c if i in combo else (1 - c))
                terms = term if terms is None else terms + term
        rows.append((tier, f"{k}-of-{n}", terms))
    out = None
    for tier, mode, expr in rows:
        r = wide.select(
            F.lit(tier).alias("tier"),
            F.lit(mode).alias("mode"),
            F.round(expr, 6).alias("availability"),
            F.round((1 - expr) * 30 * 24 * 60, 2).alias(
                "downtime_min_month"
            ),
        )
        out = r if out is None else out.unionByName(r)
    return out


def retry_amplification(
    edges: DataFrame,
    entry_service: str,
    max_depth: int = 3,
) -> DataFrame:
    """Retry-storm amplification along the call graph — how many
    backend requests can ONE front-door request become?

    Each edge carries max_attempts; along a call path the factors
    MULTIPLY (the retry-storm mechanism every incident review
    rediscovers).  BFS from the entry service over ``max_depth``
    bounded join rounds, accumulating the product per path and
    reporting per reachable service the worst-case amplification and
    the path that achieves it (deterministic max_by on
    (amplification, path) so ties resolve identically anywhere).

    ``edges``: (src, dst, attempts).  The depth bound is the honest
    contract: real graphs are shallow, and unbounded closure belongs
    to the connected-components machinery.
    """
    frontier = edges.filter(F.col("src") == entry_service).select(
        F.col("dst").alias("svc"),
        F.col("attempts").cast("double").alias("amp"),
        F.concat(F.lit(entry_service), F.lit(">"), F.col("dst"))
        .alias("path"),
    )
    all_paths = frontier
    for _ in range(max_depth - 1):
        nxt = frontier.join(
            edges.select(
                F.col("src").alias("svc"),
                F.col("dst").alias("_d"),
                F.col("attempts").alias("_a"),
            ),
            "svc",
        ).select(
            F.col("_d").alias("svc"),
            (F.col("amp") * F.col("_a")).alias("amp"),
            F.concat(F.col("path"), F.lit(">"), F.col("_d"))
            .alias("path"),
        )
        frontier = nxt
        all_paths = all_paths.unionByName(nxt)
    w = Window.partitionBy("svc").orderBy(
        F.col("amp").desc(), F.col("path")
    )
    return (
        all_paths.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            "svc",
            F.round("amp", 2).alias("worst_amplification"),
            F.col("path").alias("worst_path"),
        )
    )


def transfer_entropy(
    df: DataFrame,
    bucket_col: str,
    x_state,
    y_state,
    laplace: float = 0.5,
) -> DataFrame:
    """Lag-1 binary transfer entropy, both directions — DIRECTIONAL
    coupling between two metric streams.

    ``granger_causality`` asks the linear version; transfer entropy
    asks it model-free: TE(X->Y) = sum p_w(d,dp,sp) ·
    log2[ p(d|dp,sp) / p(d|dp) ] over binarized states — does X's
    past reduce uncertainty about Y's next step beyond Y's own past?
    With binary states the joint is EIGHT cells: one lag window over
    the bucket series, one 8-cell count aggregate, and the entropy
    sum over a literal grid with Laplace-smoothed, exactly-normalized
    conditionals ((c3+la)/(c2+2la) against (c2m+2la)/(c1+4la), weight
    (c3+la)/(n+8la)).  Both directions reported; the asymmetry is the
    signal (storms propagate ingest -> index, not back).
    """
    w = Window.orderBy(bucket_col)
    s = df.select(
        F.col(bucket_col),
        x_state.cast("int").alias("x"),
        y_state.cast("int").alias("y"),
    ).select(
        "*",
        F.lag("x").over(w).alias("xp"),
        F.lag("y").over(w).alias("yp"),
    ).filter(F.col("xp").isNotNull())
    cells = s.groupBy("x", "y", "xp", "yp").agg(
        F.count(F.lit(1)).alias("c")
    ).localCheckpoint(eager=True)
    la = laplace
    spark = df.sparkSession
    grid = spark.range(8).select(
        (F.col("id") % 2).cast("int").alias("d"),
        ((F.col("id") / 2).cast("int") % 2).cast("int").alias("dp"),
        ((F.col("id") / 4).cast("int") % 2).cast("int").alias("sp"),
    )

    def te(src_prev, dst, dst_prev):
        c3 = cells.groupBy(
            F.col(dst).alias("d"), F.col(dst_prev).alias("dp"),
            F.col(src_prev).alias("sp"),
        ).agg(F.sum("c").alias("c3"))
        full = grid.join(c3, ["d", "dp", "sp"], "left").select(
            "d", "dp", "sp",
            F.coalesce("c3", F.lit(0)).cast("double").alias("c3"),
        )
        w2 = Window.partitionBy("dp", "sp")
        w2m = Window.partitionBy("d", "dp")
        w1 = Window.partitionBy("dp")
        wn = Window.partitionBy()
        g = full.select(
            "*",
            F.sum("c3").over(w2).alias("c2"),
            F.sum("c3").over(w2m).alias("c2m"),
            F.sum("c3").over(w1).alias("c1"),
            F.sum("c3").over(wn).alias("n"),
        )
        term = (
            (F.col("c3") + la) / (F.col("n") + 8 * la)
            * F.log2(
                ((F.col("c3") + la) / (F.col("c2") + 2 * la))
                / ((F.col("c2m") + 2 * la) / (F.col("c1") + 4 * la))
            )
        )
        return g.agg(
            F.sum(term).alias("te"), F.max("n").alias("n")
        )

    xy = te("xp", "y", "yp").select(
        F.col("te").alias("_te_xy"), F.col("n").alias("_n")
    )
    yx = te("yp", "x", "xp").select(F.col("te").alias("_te_yx"))
    return xy.crossJoin(yx).select(
        F.col("_n").cast("bigint").alias("n_steps"),
        F.round("_te_xy", 6).alias("te_x_to_y"),
        F.round("_te_yx", 6).alias("te_y_to_x"),
        F.round(F.col("_te_xy") - F.col("_te_yx"), 6).alias("asymmetry"),
    )


def littles_law_audit(
    df: DataFrame,
    ts_col: str = "ts",
    dur_col: str = "value",
    max_dur_s: float = 21600.0,
) -> DataFrame:
    """Little's law audit per hour: does measured time-average
    concurrency L match arrival-rate times residence time (lambda*W)?

    The collector's own health dashboards assert exactly this identity
    between queue depth, ingest rate, and processing latency
    (signalfx-agent's internal metrics expose all three).  Per hour:
    lambda = arrivals/3600, W = mean duration of arrivals; measured L
    integrates per-request residence over the hour by exploding each
    request onto the (bounded, <= max_dur_s/3600 + 1) hours it
    overlaps and summing clipped overlap seconds.  The explode factor
    is capped by ``max_dur_s`` so the plan stays linear at 10^12 rows;
    everything else is two keyed aggregates + one keyed join.
    """
    start = F.unix_timestamp(F.col(ts_col)).cast("double")
    dur = F.least(F.col(dur_col).cast("double"), F.lit(max_dur_s))
    # Durations and overlaps are summed on an integer-microsecond grid:
    # bigint addition is exact and associative, so the aggregate is
    # independent of partition/merge order — a float sum here can
    # differ in the last ulp between runs (and engines), flipping
    # round()-boundary outputs and the SIGN of a near-zero rel_err.
    e = df.filter(F.col(dur_col).isNotNull()).select(
        start.alias("s"),
        (start + dur).alias("e"),
        F.round(dur * 1e6).cast("long").alias("d_us"),
        F.floor(start / 3600).cast("long").alias("h0"),
    )
    arr = e.groupBy("h0").agg(
        F.count(F.lit(1)).alias("n_arrivals"),
        F.sum("d_us").alias("d_us_sum"),
    )
    spans = e.select(
        "s", "e",
        F.explode(
            F.sequence(F.col("h0"), F.floor(F.col("e") / 3600).cast("long"))
        ).alias("h"),
    ).select(
        "h",
        F.round(
            (
                F.least(F.col("e"), (F.col("h") + 1) * 3600.0)
                - F.greatest(F.col("s"), F.col("h") * 3600.0)
            )
            * 1e6
        )
        .cast("long")
        .alias("ov_us"),
    )
    meas = spans.groupBy("h").agg(F.sum("ov_us").alias("busy_us"))
    j = arr.join(meas, arr.h0 == meas.h, "left")
    w_s = F.col("d_us_sum").cast("double") / 1e6 / F.col("n_arrivals")
    lam = F.col("n_arrivals") / 3600.0
    l_pred = lam * w_s
    l_meas = F.coalesce(F.col("busy_us").cast("double"), F.lit(0.0)) / 1e6 / 3600.0
    # rel_err: NULL (not NaN/Inf) when l_pred == 0, and `+ 0.0` so a
    # round() of a tiny negative difference can never ship IEEE -0.0
    # (engines disagree on preserving the sign of zero through round).
    rel_err = F.when(
        l_pred > 0, F.round((l_meas - l_pred) / l_pred, 6) + 0.0
    ).otherwise(F.lit(None).cast("double"))
    return j.select(
        F.col("h0").alias("hour_bucket"),
        F.col("n_arrivals").cast("bigint").alias("n_arrivals"),
        F.round(lam, 6).alias("lambda_per_s"),
        F.round(w_s, 6).alias("w_mean_s"),
        F.round(l_pred, 6).alias("l_predicted"),
        F.round(l_meas, 6).alias("l_measured"),
        rel_err.alias("rel_err"),
    ).orderBy("hour_bucket")


def cochran_armitage_trend(
    df: DataFrame,
    score_col: str,
    success_col: str,
) -> DataFrame:
    """Cochran-Armitage test for a LINEAR TREND in proportions across
    ordered groups (dose-response) — the right test when 'is the error
    rate rising with hour-of-day bucket' matters, where a plain
    chi-square ignores the ordering.

    T = sum_i w_i (a_i - n_i*A/N); Var = p(1-p)[sum w_i^2 n_i -
    (sum w_i n_i)^2/N]; Z = T/sqrt(Var).  One keyed aggregate to the
    bounded group table, then a single-row reduction — map-side
    partial all the way, nothing driver-side.  Emits Z and the 95%
    verdict (|Z| > 1.96), not a p-value, matching the repo's other
    closed-form tests (no erf built-in on either engine).
    """
    g = df.select(
        F.col(score_col).cast("double").alias("w"),
        F.col(success_col).cast("double").alias("y"),
    ).groupBy("w").agg(
        F.count(F.lit(1)).cast("double").alias("n_i"),
        F.sum("y").alias("a_i"),
    )
    tot = g.agg(
        F.sum("n_i").alias("n"),
        F.sum("a_i").alias("a"),
        F.sum(F.col("w") * F.col("a_i")).alias("wa"),
        F.sum(F.col("w") * F.col("n_i")).alias("wn"),
        F.sum(F.col("w") * F.col("w") * F.col("n_i")).alias("wwn"),
        F.count(F.lit(1)).cast("bigint").alias("n_groups"),
    )
    p = F.col("a") / F.col("n")
    t_stat = F.col("wa") - F.col("wn") * p
    var = p * (1 - p) * (F.col("wwn") - F.col("wn") * F.col("wn") / F.col("n"))
    z = t_stat / F.sqrt(var)
    return tot.select(
        F.col("n_groups"),
        F.col("n").cast("bigint").alias("n_total"),
        F.col("a").cast("bigint").alias("n_success"),
        F.round(t_stat, 6).alias("t_stat"),
        F.round(z, 6).alias("z"),
        (F.abs(z) > 1.96).alias("significant_95"),
    )


def adamic_adar_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram: int = 3,
    min_df: int = 2,
    max_df: int = 10,
    top_k: int = 25,
) -> DataFrame:
    """Adamic-Adar link prediction over the doc-shingle bipartite
    graph: score(d1,d2) = sum over shared n-gram shingles of 1/ln(df)
    — common-neighbor similarity that discounts promiscuous neighbors.

    The scale trap is the posting-list self-join on hot terms; the
    standard fix (same as the repo's n-gram Jaccard) is a df-band:
    only shingles with min_df <= df <= max_df join, so each term
    contributes <= max_df^2 pairs and the join is linear in postings.
    Rare-term bands are also where Adamic-Adar's 1/ln(df) weight
    carries all the signal, so the cap is semantic, not just a guard.
    """
    from .dedup import shingles

    words = shingles(df, n=ngram, text_col=text_col, id_col=id_col).select(
        F.col(id_col).alias("d"), F.explode("sh").alias("word")
    )
    dfreq = words.groupBy("word").agg(F.count(F.lit(1)).alias("df_w"))
    band = dfreq.filter(
        (F.col("df_w") >= min_df) & (F.col("df_w") <= max_df)
    )
    post = words.join(band, "word")
    a = post.select("word", F.col("d").alias("d1"), "df_w")
    b = post.select("word", F.col("d").alias("d2"))
    pairs = a.join(b, "word").filter(F.col("d1") < F.col("d2"))
    scored = pairs.groupBy("d1", "d2").agg(
        F.round(F.sum(1.0 / F.log("df_w")), 6).alias("aa_score"),
        F.count(F.lit(1)).cast("bigint").alias("shared_terms"),
    )
    w = Window.orderBy(
        F.desc("aa_score"), F.asc("d1"), F.asc("d2")
    )
    return scored.select(
        "*", F.row_number().over(w).alias("rk")
    ).filter(F.col("rk") <= top_k).drop("rk")


def jonckheere_terpstra(
    df: DataFrame,
    group_col: str,
    value_col: str,
) -> DataFrame:
    """Jonckheere-Terpstra test for an ORDERED alternative across
    groups (medians rising with the group index) — sharper than
    Kruskal-Wallis when the hypothesis is monotone, e.g. 'latency
    climbs through the day's load bands'.

    U = sum over group pairs i<j of #{x_i < y_j} + 0.5*ties.  The
    naive pairwise scan is O(n^2); here counts collapse onto the
    bounded (group x distinct-cents-value) grid first, a per-group
    strictly-below cumulative window runs over the grid, and the
    pair sum is a value-keyed grid join with bounded group fanout —
    the same bounded-grid rank machinery as the repo's
    Brunner-Munzel.  Normal approximation (no-tie variance, the
    classical form) -> z; emits U, E[U], z, verdict.
    """
    r = df.select(
        F.col(group_col).cast("long").alias("g"),
        F.round(F.col(value_col).cast("double") * 100).cast("long")
        .alias("v"),
    ).filter(F.col("v").isNotNull())
    counts = r.groupBy("g", "v").agg(
        F.count(F.lit(1)).cast("double").alias("c")
    )
    vals = counts.select("v").distinct()
    groups = counts.select("g").distinct()
    grid = vals.crossJoin(groups).join(counts, ["g", "v"], "left").select(
        "g", "v", F.coalesce("c", F.lit(0.0)).alias("c")
    )
    wlt = (
        Window.partitionBy("g").orderBy("v")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = grid.select(
        "g", "v", "c",
        F.coalesce(F.sum("c").over(wlt), F.lit(0.0)).alias("lt"),
    )
    a = cum.select(
        F.col("g").alias("gi"), "v", "lt", F.col("c").alias("ci")
    )
    b = counts.select(F.col("g").alias("gj"), "v", F.col("c").alias("cj"))
    u = a.join(b, "v").filter(F.col("gi") < F.col("gj")).agg(
        F.sum(
            F.col("cj") * F.col("lt") + 0.5 * F.col("cj") * F.col("ci")
        ).alias("u")
    )
    sizes = r.groupBy("g").agg(F.count(F.lit(1)).cast("double").alias("n_i"))
    m = sizes.agg(
        F.sum("n_i").alias("n"),
        F.sum(F.col("n_i") * F.col("n_i")).alias("sn2"),
        F.sum(
            F.col("n_i") * F.col("n_i") * (2 * F.col("n_i") + 3)
        ).alias("sn23"),
        F.count(F.lit(1)).cast("bigint").alias("n_groups"),
    )
    j = u.crossJoin(m)
    mean = (F.col("n") * F.col("n") - F.col("sn2")) / 4
    var = (
        F.col("n") * F.col("n") * (2 * F.col("n") + 3) - F.col("sn23")
    ) / 72
    z = (F.col("u") - mean) / F.sqrt(var)
    return j.select(
        F.col("n_groups"),
        F.col("n").cast("bigint").alias("n_total"),
        F.round("u", 2).alias("jt_u"),
        F.round(mean, 2).alias("expected_u"),
        F.round(z, 6).alias("z"),
        (F.abs(z) > 1.96).alias("significant_95"),
    )


def kendalls_w(
    df: DataFrame,
    judge_col: str,
    object_col: str,
    score_col,
) -> DataFrame:
    """Kendall's W coefficient of concordance: do m judges agree on
    the ranking of k objects?  (Here: do the ingest sources agree on
    which languages/tools dominate?)  W = 12*S / (m^2(k^3-k) - m*T)
    with the standard tie correction T = sum(t^3 - t) over tied
    groups within each judge.

    One aggregate to the (judge x object) score table — bounded by
    construction — then in-grid rank windows and two single-row
    reductions.  W in [0,1]; chi-square statistic m(k-1)W emitted
    beside it (df = k-1).
    """
    cells = df.groupBy(
        F.col(judge_col).alias("judge"), F.col(object_col).alias("obj")
    ).agg(F.sum(score_col.cast("double")).alias("score"))
    # complete-block requirement: zero-fill absent (judge, object)
    # cells so every judge ranks the same k objects
    s = (
        cells.select("judge").distinct()
        .crossJoin(cells.select("obj").distinct())
        .join(cells, ["judge", "obj"], "left")
        .select(
            "judge", "obj", F.coalesce("score", F.lit(0.0)).alias("score")
        )
    )
    wr = Window.partitionBy("judge").orderBy("score", "obj")
    ranked = s.select(
        "judge", "obj",
        F.avg(F.row_number().over(wr)).over(
            Window.partitionBy("judge", "score")
        ).alias("rk"),
    )
    ties = (
        ranked.groupBy("judge", "rk")
        .agg(F.count(F.lit(1)).cast("double").alias("t"))
        .agg(F.sum(
            F.col("t") * F.col("t") * F.col("t") - F.col("t")
        ).alias("t_corr"))
    )
    rsum = ranked.groupBy("obj").agg(F.sum("rk").alias("r_i"))
    mk = s.agg(
        F.countDistinct("judge").cast("double").alias("m"),
        F.countDistinct("obj").cast("double").alias("k"),
    )
    ss = rsum.crossJoin(mk).agg(
        F.sum(
            (F.col("r_i") - F.col("m") * (F.col("k") + 1) / 2)
            * (F.col("r_i") - F.col("m") * (F.col("k") + 1) / 2)
        ).alias("s"),
        F.max("m").alias("m"),
        F.max("k").alias("k"),
    )
    j = ss.crossJoin(ties)
    w = (12 * F.col("s")) / (
        F.col("m") * F.col("m")
        * (F.col("k") * F.col("k") * F.col("k") - F.col("k"))
        - F.col("m") * F.col("t_corr")
    )
    return j.select(
        F.col("m").cast("bigint").alias("n_judges"),
        F.col("k").cast("bigint").alias("n_objects"),
        F.round("s", 4).alias("s_rank_dev"),
        F.round(w, 6).alias("kendalls_w"),
        F.round(F.col("m") * (F.col("k") - 1) * w, 6).alias("chi2_stat"),
    )


def cronbach_alpha(
    df: DataFrame,
    unit_col: str,
    item_col: str,
    value_col,
    items: list[str],
) -> DataFrame:
    """Cronbach's alpha internal-consistency coefficient over a
    bounded item set: alpha = k/(k-1) * (1 - sum(var_i)/var_total).
    (Here: do a user's per-event-type activity levels move together —
    is 'activity' one latent scale?)

    Missing (unit,item) cells are zero-filled via a literal item grid
    so every unit contributes a full row vector.  One keyed aggregate
    to (unit x item), one pivot-free zero-fill join, population
    variances via sum/sumsq — every stage map-side partial.
    """
    k = len(items)
    cells = df.groupBy(
        F.col(unit_col).alias("unit"), F.col(item_col).alias("item")
    ).agg(F.sum(value_col.cast("double")).alias("x"))
    # literal item dim via explode (Catalyst-native — a createDataFrame
    # here would plant a Python RDD scan node in every plan)
    grid = (
        cells.select("unit").distinct()
        .select(
            "unit",
            F.explode(F.array(*[F.lit(i) for i in items])).alias("item"),
        )
    )
    full = grid.join(cells, ["unit", "item"], "left").select(
        "unit", "item", F.coalesce("x", F.lit(0.0)).alias("x")
    )
    item_var = full.groupBy("item").agg(
        (
            F.sum(F.col("x") * F.col("x")) / F.count(F.lit(1))
            - F.avg("x") * F.avg("x")
        ).alias("v_i")
    ).agg(F.sum("v_i").alias("sum_item_var"))
    totals = full.groupBy("unit").agg(F.sum("x").alias("tot"))
    tot_var = totals.agg(
        (
            F.sum(F.col("tot") * F.col("tot")) / F.count(F.lit(1))
            - F.avg("tot") * F.avg("tot")
        ).alias("v_t"),
        F.count(F.lit(1)).cast("bigint").alias("n_units"),
    )
    j = item_var.crossJoin(tot_var)
    alpha = (
        F.lit(k) / F.lit(k - 1)
        * (1 - F.col("sum_item_var") / F.col("v_t"))
    )
    return j.select(
        F.lit(k).cast("bigint").alias("n_items"),
        F.col("n_units"),
        F.round("sum_item_var", 6).alias("sum_item_var"),
        F.round("v_t", 6).alias("total_var"),
        F.round(alpha, 6).alias("alpha"),
    )


def theta_forecast(
    df: DataFrame,
    group_cols: list[str],
    order_col: str,
    value_col: str,
    alpha: float = 0.3,
    horizon: int = 6,
) -> DataFrame:
    """Theta-method forecast (Assimakopoulos & Nikolopoulos, the M3
    benchmark winner) per series: average of the linear-trend line
    extrapolation (theta=0) and an SES over the curvature-doubled
    theta=2 line y_t = 2x_t - trend_t.

    Everything is closed-form: the trend by least squares over the
    series index (one keyed aggregate of power sums) and the SES
    level by its explicit weighted form l_T = (1-a)^(T-1) y_1 +
    a * sum (1-a)^(T-t) y_t — no sequential fold needed, so the plan
    is two keyed aggregates and a bounded horizon explode.  Forecast
    rows: (group, h, forecast) for h = 1..horizon.
    """
    w = Window.partitionBy(*group_cols).orderBy(order_col)
    base = df.select(
        *group_cols,
        F.col(value_col).cast("double").alias("x"),
        F.row_number().over(w).cast("double").alias("t"),
    )
    ols = base.groupBy(*group_cols).agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("t").alias("st"),
        F.sum(F.col("t") * F.col("x")).alias("stx"),
        F.sum(F.col("t") * F.col("t")).alias("stt"),
    ).select(
        *group_cols, "n",
        (
            (F.col("n") * F.col("stx") - F.col("st") * F.col("sx"))
            / (F.col("n") * F.col("stt") - F.col("st") * F.col("st"))
        ).alias("b"),
    ).select(
        *group_cols, "n", "b",
    )
    ols = ols.join(
        base.groupBy(*group_cols).agg(
            F.avg("x").alias("xbar"), F.avg("t").alias("tbar")
        ),
        group_cols,
    ).select(
        *group_cols, "n", "b",
        (F.col("xbar") - F.col("b") * F.col("tbar")).alias("a"),
    )
    y = base.join(ols, group_cols).select(
        *group_cols, "t", "n", "a", "b",
        (2 * F.col("x") - (F.col("a") + F.col("b") * F.col("t")))
        .alias("y"),
    )
    a_ = alpha
    ses = y.groupBy(*group_cols).agg(
        F.sum(
            F.when(
                F.col("t") == 1,
                F.pow(F.lit(1 - a_), F.col("n") - 1) * F.col("y"),
            ).otherwise(
                a_ * F.pow(F.lit(1 - a_), F.col("n") - F.col("t"))
                * F.col("y")
            )
        ).alias("l"),
        F.max("n").alias("n"),
        F.max("a").alias("a"),
        F.max("b").alias("b"),
    )
    spark = df.sparkSession
    hs = spark.range(1, horizon + 1).select(
        F.col("id").cast("double").alias("h")
    )
    return ses.crossJoin(hs).select(
        *group_cols,
        F.col("h").cast("bigint").alias("h"),
        F.round(
            0.5 * (F.col("a") + F.col("b") * (F.col("n") + F.col("h")))
            + 0.5 * F.col("l"),
            6,
        ).alias("forecast"),
    )


def croston_intermittent(
    demands: DataFrame,
    group_cols: list[str],
    pos_col: str,
    demand_col: str,
    periods: DataFrame,
    n_periods_col: str = "n_periods",
    alpha: float = 0.1,
) -> DataFrame:
    """Croston's method for INTERMITTENT demand (sparse counters with
    many zero periods — exactly telemetry error bursts or rare
    purchase events): separate SES trackers for nonzero demand size z
    and inter-demand interval p, updated only at demand points;
    forecast rate = z/p, plus the Syntetos-Boylan (1-alpha/2)
    bias-corrected variant.

    Grid-free: the textbook fold walks EVERY period of the
    zero-filled series, but Croston state only changes at demand
    points: zero periods leave (z, p) untouched and merely advance
    the interval counter, which at the next demand equals the integer
    position gap.  So folding over just the demand points (``d > 0``)
    — each tagged with its 1-based rank ``pos_col`` in the full
    period sequence — replays the dense recurrence with bit-identical
    float operations (interval gaps are exact integer doubles), while
    the input shrinks from |groups| x |periods| grid cells to the
    demand points alone.  No crossJoin grid, no zero-fill join.
    Rows with zero or negative demand may be passed; like zero
    periods of the dense series they are not demand points.

    ``periods`` carries per-group ``n_periods_col`` (total period
    count); groups with no demand points emit NULL estimates, like
    the dense fold on an all-zero series.  Demand points per group
    are bounded by the intermittency contract (the method is FOR
    sparse demand), so the collected fold stays bounded.
    """
    base = demands.select(
        *group_cols,
        F.col(pos_col).cast("long").alias("_rn"),
        F.col(demand_col).cast("double").alias("_d"),
    ).filter(F.col("_d") > 0)
    ser = base.groupBy(*group_cols).agg(
        F.array_sort(F.collect_list(F.struct("_rn", "_d"))).alias("_ps"),
    )
    a_ = alpha
    fold = (
        "aggregate(_ps,"
        " named_struct('z', cast(0.0 as double), 'p',"
        " cast(0.0 as double), 'prev', cast(0 as bigint),"
        " 'init', false, 'nd', cast(0 as bigint)),"
        " (acc, e) -> case"
        " when not acc.init then named_struct("
        " 'z', e._d, 'p', cast(e._rn as double), 'prev', e._rn,"
        " 'init', true, 'nd', acc.nd + 1)"
        " else named_struct("
        f" 'z', acc.z + {a_} * (e._d - acc.z),"
        f" 'p', acc.p + {a_} *"
        " (cast(e._rn - acc.prev as double) - acc.p),"
        " 'prev', e._rn, 'init', true, 'nd', acc.nd + 1) end)"
    )
    folded = periods.join(
        ser.withColumn("_st", F.expr(fold)), group_cols, "left"
    )
    st = F.col("_st")
    rate = st.getField("z") / st.getField("p")
    return folded.select(
        *group_cols,
        F.col(n_periods_col).cast("bigint").alias("n_periods"),
        F.coalesce(st.getField("nd"), F.lit(0).cast("bigint"))
        .alias("demand_periods"),
        F.when(st.getField("init"), F.round(st.getField("z"), 6))
        .alias("z_hat"),
        F.when(st.getField("init"), F.round(st.getField("p"), 6))
        .alias("p_hat"),
        F.when(st.getField("init"), F.round(rate, 6))
        .alias("croston_rate"),
        F.when(st.getField("init"), F.round((1 - a_ / 2) * rate, 6))
        .alias("sba_rate"),
    )


def variance_ratio_test(
    df: DataFrame,
    order_col: str,
    value_col: str,
    q: int = 4,
) -> DataFrame:
    """Lo-MacKinlay variance-ratio test on a cumulative series: is the
    q-period return variance q times the 1-period variance (random
    walk), or less (mean reversion) / more (trending)?  Applied to
    log event-rate series it asks whether load drifts or oscillates.

    VR(q) = Var(x_t - x_{t-q}) / (q * Var(x_t - x_{t-1})) with the
    drift-adjusted population variances; z = sqrt(T) (VR - 1) /
    sqrt(2(2q-1)(q-1)/(3q)) under homoskedasticity.  Two lag windows
    over the ordered series + one single-row reduction.
    """
    w = Window.orderBy(order_col)
    s = df.select(
        F.col(order_col).alias("o"),
        F.col(value_col).cast("double").alias("x"),
    ).select(
        "o", "x",
        (F.col("x") - F.lag("x", 1).over(w)).alias("r1"),
        (F.col("x") - F.lag("x", q).over(w)).alias("rq"),
    )
    agg = s.agg(
        F.count("r1").cast("double").alias("t"),
        F.avg("r1").alias("mu"),
        F.sum(F.col("r1") * F.col("r1")).alias("s1"),
        F.sum("r1").alias("sr1"),
        F.count("rq").cast("double").alias("tq"),
        F.sum(F.col("rq") * F.col("rq")).alias("sq"),
        F.sum("rq").alias("srq"),
    )
    var1 = (
        F.col("s1") / F.col("t")
        - (F.col("sr1") / F.col("t")) * (F.col("sr1") / F.col("t"))
    )
    varq = (
        F.col("sq") / F.col("tq")
        - (F.col("srq") / F.col("tq")) * (F.col("srq") / F.col("tq"))
    )
    vr = varq / (q * var1)
    z = (
        F.sqrt(F.col("t")) * (vr - 1)
        / F.sqrt(F.lit(2.0 * (2 * q - 1) * (q - 1) / (3.0 * q)))
    )
    return agg.select(
        F.col("t").cast("bigint").alias("n_returns"),
        F.lit(q).cast("bigint").alias("q"),
        F.round(var1, 6).alias("var_1"),
        F.round(varq / q, 6).alias("var_q_scaled"),
        F.round(vr, 6).alias("variance_ratio"),
        F.round(z, 6).alias("z"),
        (F.abs(z) > 1.96).alias("significant_95"),
    )


def ivm_delta_apply(
    base: DataFrame,
    delta: DataFrame,
    group_cols: list[str],
    n_col: str = "n",
    sum_col: str | None = None,
    sign_col: str = "sign",
) -> DataFrame:
    """Incremental view maintenance for a grouped count/sum view:
    apply a signed CDC delta batch (+1 insert / -1 delete rows) to a
    materialized aggregate WITHOUT rescanning the base fact table —
    the streaming-aggregation contract behind every rollup sink in
    this repo, here as an explicit audit operator.

    maintained = base_agg FULL OUTER JOIN delta_agg on the group key,
    counts added, empty groups (count falls to 0) dropped — the
    standard bag-semantics IVM rule for distributive aggregates.
    Both sides are keyed aggregates; the merge is a key-equi join.
    """
    b = base.groupBy(*group_cols).agg(
        F.count(F.lit(1)).cast("long").alias("_bn"),
        *(
            [F.sum(sum_col).alias("_bs")] if sum_col else []
        ),
    )
    d = delta.groupBy(*group_cols).agg(
        F.sum(F.col(sign_col).cast("long")).alias("_dn"),
        *(
            [F.sum(F.col(sum_col) * F.col(sign_col)).alias("_ds")]
            if sum_col else []
        ),
    )
    m = b.join(d, group_cols, "full_outer").select(
        *group_cols,
        F.coalesce("_bn", F.lit(0)).alias("base_n"),
        F.coalesce("_dn", F.lit(0)).alias("delta_n"),
        (
            F.coalesce("_bn", F.lit(0)) + F.coalesce("_dn", F.lit(0))
        ).alias("maintained_n"),
        *(
            [
                F.round(F.coalesce("_bs", F.lit(0.0)), 6).alias("base_sum"),
                F.round(
                    F.coalesce("_bs", F.lit(0.0))
                    + F.coalesce("_ds", F.lit(0.0)),
                    6,
                ).alias("maintained_sum"),
            ]
            if sum_col else []
        ),
    )
    return m.filter(F.col("maintained_n") > 0).orderBy(*group_cols)


def beaconing_detect(
    df: DataFrame,
    src_col: str,
    dst_col: str,
    ts_col: str,
    min_gaps: int = 20,
    cv_threshold: float = 0.3,
) -> DataFrame:
    """C2-beaconing detector: per (src, dst) channel, how METRONOMIC
    are the inter-arrival gaps?  Malware check-ins fire on a timer
    (coefficient of variation near 0, most gaps within 10% of the
    mean); human/bursty traffic has CV near or above 1.

    One lag window keyed by channel, one channel mean window, one
    keyed aggregate with explicit sum/sumsq population variance (so
    the float path is engine-portable).  Emits channels with at least
    ``min_gaps`` gaps, flagging cv < ``cv_threshold``.
    """
    wc = Window.partitionBy(src_col, dst_col).orderBy(ts_col)
    wp = Window.partitionBy(src_col, dst_col)
    gaps = df.select(
        F.col(src_col).alias("src"),
        F.col(dst_col).alias("dst"),
        (
            F.unix_timestamp(ts_col)
            - F.unix_timestamp(F.lag(ts_col).over(wc))
        ).cast("double").alias("gap"),
    ).filter(F.col("gap").isNotNull())
    withmean = gaps.select(
        "src", "dst", "gap",
        F.avg("gap").over(
            Window.partitionBy("src", "dst")
        ).alias("mean_gap"),
    )
    agg = withmean.groupBy("src", "dst").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_gaps"),
        F.max("mean_gap").alias("mean_gap"),
        F.sum(F.col("gap") * F.col("gap")).alias("_sumsq"),
        F.sum("gap").alias("_sum"),
        F.avg(
            (
                F.abs(F.col("gap") - F.col("mean_gap"))
                <= 0.1 * F.col("mean_gap")
            ).cast("double")
        ).alias("share_regular"),
    )
    n = F.col("n_gaps").cast("double")
    var = F.col("_sumsq") / n - (F.col("_sum") / n) * (F.col("_sum") / n)
    cv = F.sqrt(F.greatest(var, F.lit(0.0))) / F.col("mean_gap")
    return agg.filter(F.col("n_gaps") >= min_gaps).select(
        "src", "dst", "n_gaps",
        F.round("mean_gap", 4).alias("mean_gap_s"),
        F.round(cv, 6).alias("gap_cv"),
        F.round("share_regular", 6).alias("share_regular"),
        (cv < cv_threshold).alias("beacon_suspect"),
    ).orderBy("src", "dst")


def password_spray_detect(
    df: DataFrame,
    src_col: str,
    account_col: str,
    min_accounts: int = 10,
    max_attempts_per_account: float = 2.0,
) -> DataFrame:
    """Password-spray detector: a source that tries MANY accounts a
    FEW times each (inverse of per-account brute force, which
    `bruteforce_detect` covers).  Per source: attempt count, distinct
    accounts, attempts-per-account; flagged when the account fanout
    is wide and the per-account depth shallow.  One keyed aggregate.
    """
    agg = df.groupBy(F.col(src_col).alias("src")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_attempts"),
        F.countDistinct(account_col).cast("bigint").alias("n_accounts"),
    )
    apa = F.col("n_attempts") / F.col("n_accounts").cast("double")
    return agg.select(
        "src", "n_attempts", "n_accounts",
        F.round(apa, 6).alias("attempts_per_account"),
        (
            (F.col("n_accounts") >= min_accounts)
            & (apa <= max_attempts_per_account)
        ).alias("spray_suspect"),
    ).orderBy("src")


def impossible_travel(
    df: DataFrame,
    user_col: str,
    loc_col: str,
    ts_col: str,
    lats: list[float],
    lons: list[float],
    max_speed_kmh: float = 900.0,
) -> DataFrame:
    """Impossible-travel detector: consecutive logins of one account
    from locations farther apart than any plane could cover in the
    elapsed time.  Locations are a bounded site list passed as
    literal lat/lon arrays (indexed in-row — no join at all);
    distance is the haversine great circle, speed = km / elapsed h.

    One lag window per user; flagged rows only.  The asin argument is
    clamped to [0,1] so antipodal rounding can't NaN.

    Two logins from different sites within ``min_elapsed_s`` (dt <= 0
    included — the most extreme case, simultaneous logins) are flagged
    on the explicit infinite-speed branch with speed_kmh NULL; a
    strict ``t > pt`` + ``speed = dist/dt`` formulation would
    null-propagate exactly those rows out of the report.  The lag
    window tie-breaks on location so equal-timestamp pairs order
    deterministically on every engine.
    """
    min_elapsed_s = 1.0
    # order by the SAME second-truncated time the speed math uses
    # (unix_timestamp drops sub-second parts): ordering by the raw
    # timestamp while differencing truncated seconds would pair
    # same-second logins differently than any engine working on the
    # second grid.  loc breaks the remaining ties deterministically.
    tsec = F.unix_timestamp(F.col(ts_col)).cast("double")
    w = Window.partitionBy(user_col).orderBy(
        tsec, F.col(loc_col).cast("int")
    )
    la = F.array(*[F.lit(float(v)) for v in lats])
    lo = F.array(*[F.lit(float(v)) for v in lons])
    s = df.select(
        F.col(user_col).alias("user"),
        F.col(loc_col).cast("int").alias("loc"),
        F.unix_timestamp(ts_col).cast("double").alias("t"),
        F.lag(F.col(loc_col).cast("int")).over(w).alias("ploc"),
        F.unix_timestamp(F.lag(F.col(ts_col)).over(w))
        .cast("double").alias("pt"),
    ).filter(
        F.col("ploc").isNotNull() & (F.col("ploc") != F.col("loc"))
    )
    rad = 3.141592653589793 / 180.0
    lat1 = F.element_at(la, F.col("ploc") + 1) * rad
    lat2 = F.element_at(la, F.col("loc") + 1) * rad
    dlat = lat2 - lat1
    dlon = (
        F.element_at(lo, F.col("loc") + 1)
        - F.element_at(lo, F.col("ploc") + 1)
    ) * rad
    h = (
        F.sin(dlat / 2) * F.sin(dlat / 2)
        + F.cos(lat1) * F.cos(lat2) * F.sin(dlon / 2) * F.sin(dlon / 2)
    )
    dist = 2 * 6371.0 * F.asin(F.least(F.lit(1.0), F.sqrt(h)))
    dt_s = F.col("t") - F.col("pt")
    dt_h = dt_s / 3600.0
    speed = F.when(dt_s > 0, dist / dt_h)
    return s.filter(
        (dt_s >= 0)
        & (
            ((dt_s <= min_elapsed_s) & (dist > 0))
            | (speed > max_speed_kmh)
        )
    ).select(
        "user",
        F.col("ploc").alias("from_loc"),
        F.col("loc").alias("to_loc"),
        F.round(dist, 4).alias("dist_km"),
        F.round(dt_h * 3600, 1).alias("elapsed_s"),
        F.round(speed, 4).alias("speed_kmh"),
    ).orderBy("user", "elapsed_s", "from_loc", "to_loc")


PLATT_ITERS = 8


def platt_scaling(
    df: DataFrame,
    score_col,
    label_col,
    iters: int = PLATT_ITERS,
    ridge: float = 1e-6,
) -> DataFrame:
    """Platt scaling: fit sigma(A*s + B) to binary outcomes by
    Newton-Raphson — the post-hoc calibrator that turns a raw anomaly
    or ranking score into a probability (the step between the repo's
    classifier_threshold_eval and its ECE audit).

    Engine-reproducible by the same contract as the repo's EM: a
    FIXED iteration count, per round ONE full-table aggregate of the
    five gradient/Hessian sums (driver does the 2x2 solve on the
    collected row — the k-means/markov precedent), and A, B ROUNDED
    to 9dp after every update so fold noise cannot fork the
    trajectory.  Emits A, B, base rate, mean calibrated probability,
    and final log-loss.
    """
    s = score_col.cast("double")
    y = label_col.cast("double")
    base = df.select(s.alias("s"), y.alias("y"))
    a_, b_ = 0.0, 0.0
    for _ in range(iters):
        p = 1.0 / (1.0 + F.exp(-(F.lit(a_) * F.col("s") + F.lit(b_))))
        w = p * (1 - p) + ridge
        r = base.agg(
            F.sum((p - F.col("y")) * F.col("s")).alias("g1"),
            F.sum(p - F.col("y")).alias("g0"),
            F.sum(w * F.col("s") * F.col("s")).alias("h11"),
            F.sum(w * F.col("s")).alias("h10"),
            F.sum(w).alias("h00"),
        ).collect()[0]
        det = r["h11"] * r["h00"] - r["h10"] * r["h10"]
        a_ = round(a_ - (r["g1"] * r["h00"] - r["g0"] * r["h10"]) / det, 9)
        b_ = round(b_ - (r["h11"] * r["g0"] - r["h10"] * r["g1"]) / det, 9)
    p = 1.0 / (1.0 + F.exp(-(F.lit(a_) * F.col("s") + F.lit(b_))))
    eps = 1e-12
    return base.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.round(F.avg("y"), 6).alias("base_rate"),
        F.round(F.avg(p), 6).alias("mean_calibrated_p"),
        F.round(
            -F.avg(
                F.col("y") * F.log(p + eps)
                + (1 - F.col("y")) * F.log(1 - p + eps)
            ),
            6,
        ).alias("log_loss"),
    ).select(
        F.lit(round(a_, 6)).alias("platt_a"),
        F.lit(round(b_, 6)).alias("platt_b"),
        "n", "base_rate", "mean_calibrated_p", "log_loss",
    )


def roc_auc_rank(
    df: DataFrame,
    score_col,
    label_col,
) -> DataFrame:
    """Exact ROC AUC via the rank-sum identity (AUC = U/(n+ n-)) with
    midranks for ties — no threshold sweep, no curve materialization.

    The scale move: scores collapse onto the bounded distinct-cents
    grid first (counts + positive counts per distinct score), then
    ONE ordered window over the grid computes midranks and the rank
    sum — rank machinery never touches raw rows, same pattern as the
    repo's Brunner-Munzel/Jonckheere.  Emits AUC and Gini (2AUC-1).
    """
    agg, auc = _midrank_auc(df, score_col, label_col)
    return agg.select(
        F.col("npos").cast("bigint").alias("n_pos"),
        F.col("nneg").cast("bigint").alias("n_neg"),
        F.round(auc, 6).alias("auc"),
        F.round(2 * auc - 1, 6).alias("gini"),
    )


_DA_QUESTION_START = (
    "who|what|when|where|why|how|can|could|would|will|is|are|do|does"
)
_DA_COMMAND_START = (
    "run|show|list|please|fix|add|make|stop|restart|delete|set"
)


def dialog_act_mix(
    df: DataFrame,
    conv_col: str,
    text_col: str,
) -> DataFrame:
    """Rule-based dialogue-act tagging (question / command /
    statement) and the per-conversation act mix — the conversational
    profile a transcript-curation pipeline uses to balance
    instruction-following vs declarative data.

    Acts by anchored case-insensitive regex: question = ends with
    '?' OR starts with an interrogative; command = starts with an
    imperative cue; else statement.  Tagging is pure codegen'd
    regex; the mix is one keyed aggregate.
    """
    t = F.lower(F.trim(F.col(text_col)))
    is_q = t.rlike(r"\?$") | t.rlike(
        rf"^({_DA_QUESTION_START})\b"
    )
    is_cmd = ~is_q & t.rlike(rf"^({_DA_COMMAND_START})\b")
    return df.groupBy(F.col(conv_col).alias("conv")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_turns"),
        F.sum(is_q.cast("long")).cast("bigint").alias("n_question"),
        F.sum(is_cmd.cast("long")).cast("bigint").alias("n_command"),
        F.sum((~is_q & ~is_cmd).cast("long")).cast("bigint")
        .alias("n_statement"),
        F.round(F.avg(is_q.cast("double")), 6).alias("question_ratio"),
        F.round(F.avg(is_cmd.cast("double")), 6).alias("command_ratio"),
    ).orderBy("conv")


def context_window_fit(
    df: DataFrame,
    conv_col: str,
    order_col: str,
    text_col: str,
    budget_tokens: int = 150,
) -> DataFrame:
    """Context-window truncation audit: keeping the MOST RECENT turns
    of each conversation, where does a fixed token budget cut?  The
    planning signal for truncate-middle / sliding-window batching:
    how much history survives, per conversation.

    Tokens = whitespace word count; one reverse-ordered cumulative
    window per conversation computes the suffix token sum, a keyed
    aggregate derives kept/dropped counts, the first kept turn index
    and budget utilization.  A turn longer than the whole budget
    still keeps the newest turn (deterministic: the window is
    strictly per-suffix).
    """
    w = (
        Window.partitionBy(conv_col).orderBy(F.desc(order_col))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    toks = F.size(F.split(F.trim(F.col(text_col)), " +"))
    s = df.select(
        F.col(conv_col).alias("conv"),
        F.col(order_col).alias("idx"),
        toks.alias("tk"),
    ).select(
        "conv", "idx", "tk", F.sum("tk").over(w).alias("suffix_tokens")
    )
    keep = (F.col("suffix_tokens") <= budget_tokens) | (
        F.col("suffix_tokens") == F.col("tk")
    )
    return s.groupBy("conv").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_turns"),
        F.sum(keep.cast("long")).cast("bigint").alias("kept_turns"),
        F.sum((~keep).cast("long")).cast("bigint").alias("dropped_turns"),
        F.min(F.when(keep, F.col("idx"))).alias("first_kept_idx"),
        F.round(
            F.max(F.when(keep, F.col("suffix_tokens")))
            / F.lit(float(budget_tokens)),
            6,
        ).alias("budget_utilization"),
    ).orderBy("conv")


def chow_break_test(
    df: DataFrame,
    order_col: str,
    value_col: str,
    break_at,
) -> DataFrame:
    """Chow test for a structural break in a linear trend at a KNOWN
    breakpoint: did the deploy change the slope of the load curve?
    F = ((SSR_pooled - SSR_1 - SSR_2)/k) / ((SSR_1 + SSR_2)/(n-2k)),
    k = 2 (intercept + slope).

    All three OLS fits reduce to power sums (closed form) — one
    segment-keyed aggregate plus a pooled one, zero windows.
    Significance at the F(2, inf) 95% point (3.00); exact critical
    values need the F table, so the flag is the asymptotic one
    (documented, same convention as the repo's z-tests).
    """
    pre = df.select(
        F.col(order_col).cast("double").alias("t"),
        F.col(value_col).cast("double").alias("x"),
    )
    if break_at is None:
        # midpoint break: floor((min+max)/2) — SF-independent, joined
        # on as a 1-row aggregate so no driver round-trip
        bounds = pre.agg(
            F.floor((F.min("t") + F.max("t")) / 2).alias("_brk")
        )
        pre = pre.crossJoin(bounds)
        base = pre.select(
            "t", "x", (F.col("t") >= F.col("_brk")).cast("int").alias("seg")
        )
    else:
        base = pre.select(
            "t", "x", (F.col("t") >= break_at).cast("int").alias("seg")
        )

    def ssr(grouped):
        n = F.col("n")
        sxx = F.col("stt") - F.col("st") * F.col("st") / n
        sxy = F.col("stx") - F.col("st") * F.col("sx") / n
        syy = F.col("sxx2") - F.col("sx") * F.col("sx") / n
        return syy - sxy * sxy / sxx

    def sums(g):
        return g.agg(
            F.count(F.lit(1)).cast("double").alias("n"),
            F.sum("t").alias("st"),
            F.sum("x").alias("sx"),
            F.sum(F.col("t") * F.col("x")).alias("stx"),
            F.sum(F.col("t") * F.col("t")).alias("stt"),
            F.sum(F.col("x") * F.col("x")).alias("sxx2"),
        )

    seg = sums(base.groupBy("seg")).select(
        "seg", F.col("n").alias("n"), ssr(None).alias("ssr")
    )
    segs = seg.agg(
        F.sum("n").alias("n"),
        F.sum("ssr").alias("ssr_split"),
        F.count(F.lit(1)).alias("n_segs"),
    )
    pooled = sums(base.groupBy()).select(ssr(None).alias("ssr_pooled"))
    j = pooled.crossJoin(segs)
    # a perfect piecewise fit gives SSR_split == 0 (0/0 under ANSI):
    # define F = 0 there, matching the oracle's CASE guard
    f_stat = F.when(
        F.col("ssr_split") > 0,
        ((F.col("ssr_pooled") - F.col("ssr_split")) / 2)
        / (F.col("ssr_split") / (F.col("n") - 4)),
    ).otherwise(F.lit(0.0))
    return j.select(
        F.col("n").cast("bigint").alias("n_points"),
        F.round("ssr_pooled", 6).alias("ssr_pooled"),
        F.round("ssr_split", 6).alias("ssr_split"),
        F.round(f_stat, 6).alias("f_stat"),
        (f_stat > 3.0).alias("break_at_95"),
    )


def nelson_aalen(
    df: DataFrame,
    duration_col: str,
    event_col: str,
) -> DataFrame:
    """Nelson-Aalen cumulative-hazard estimator — the hazard-scale
    twin of the repo's Kaplan-Meier: H(t) = sum over event times
    <= t of d_i/n_i, with the Fleming-Harrington survival
    S = exp(-H) beside it (nearly identical to KM at low hazard,
    more stable at small risk sets).

    One aggregate to the bounded (duration, deaths, total) grid, a
    reverse cumulative window for the risk set, a forward cumulative
    window for H.  Censored rows enter risk sets but never the
    numerator.  Emits one row per observed event time.
    """
    g = df.select(
        F.col(duration_col).cast("long").alias("t"),
        F.col(event_col).cast("int").alias("e"),
    ).groupBy("t").agg(
        F.count(F.lit(1)).cast("double").alias("at_t"),
        F.sum("e").cast("double").alias("d"),
    )
    w_risk = (
        Window.orderBy("t")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    w_cum = (
        Window.orderBy("t")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    r = g.select(
        "t", "d", F.sum("at_t").over(w_risk).alias("n_risk")
    ).select(
        "t", "d", "n_risk",
        F.sum(F.col("d") / F.col("n_risk")).over(w_cum).alias("h"),
    )
    return r.filter(F.col("d") > 0).select(
        "t",
        F.col("n_risk").cast("bigint").alias("n_risk"),
        F.col("d").cast("bigint").alias("d_events"),
        F.round("h", 6).alias("cum_hazard"),
        F.round(F.exp(-F.col("h")), 6).alias("survival_fh"),
    ).orderBy("t")


def g_test_gof(
    df: DataFrame,
    slice_col: str,
    cat_col: str,
    crit_95: float = 9.488,
) -> DataFrame:
    """Log-likelihood-ratio goodness-of-fit (G-test) per slice
    against the GLOBAL category mix: G = 2 sum O ln(O/E) — the
    additive (and information-theoretically exact) alternative to
    the repo's chi_square_gof, preferable when cells are small or
    G values must sum across slices.

    Two keyed aggregates to the bounded (slice x category) grid and
    a grid join; zero-observed cells contribute 0 by the 0*ln(0)
    convention.  ``crit_95`` is the chi-square critical value for
    the caller's df (default df=4).
    """
    cells = df.groupBy(
        F.col(slice_col).alias("s"), F.col(cat_col).alias("c")
    ).agg(F.count(F.lit(1)).cast("double").alias("o"))
    slice_tot = cells.groupBy("s").agg(F.sum("o").alias("n_s"))
    cat_tot = cells.groupBy("c").agg(F.sum("o").alias("n_c"))
    grand = cells.agg(F.sum("o").alias("n"))
    full = (
        slice_tot.crossJoin(cat_tot).crossJoin(grand)
        .join(cells, ["s", "c"], "left")
        .select(
            "s", "c", "n_s",
            F.coalesce("o", F.lit(0.0)).alias("o"),
            (F.col("n_s") * F.col("n_c") / F.col("n")).alias("e"),
        )
    )
    term = F.when(
        F.col("o") > 0, F.col("o") * F.log(F.col("o") / F.col("e"))
    ).otherwise(F.lit(0.0))
    agg = full.groupBy("s").agg(
        F.max("n_s").alias("n_s"),
        (2 * F.sum(term)).alias("g"),
        F.count(F.lit(1)).cast("bigint").alias("k"),
    )
    return agg.select(
        F.col("s").alias(slice_col),
        F.col("n_s").cast("bigint").alias("n"),
        (F.col("k") - 1).alias("df"),
        F.round("g", 6).alias("g_stat"),
        (F.col("g") > crit_95).alias("drifted_95"),
    ).orderBy(slice_col)


def betabinomial_fit(
    df: DataFrame,
    unit_col: str,
    success_col,
    n_trials: int,
) -> DataFrame:
    """Beta-binomial method-of-moments fit over equal-n unit trials:
    is per-unit conversion overdispersed relative to one shared
    binomial rate?  (The gatekeeper before pooling rates across
    conversations/users — rho > 0 says 'units differ', the same
    question eb_shrunk_rates answers by shrinkage.)

    k_i = successes in each unit's n trials; closed-form MoM:
    with m1 = E[k], m2 = E[k^2],
    alpha = (n*m1 - m2) / (n*(m2/m1 - m1 - 1) + m1), beta by
    symmetry; rho = 1/(alpha+beta+1).  One per-unit aggregate + one
    single-row reduction.
    """
    per = df.groupBy(F.col(unit_col).alias("u")).agg(
        F.sum(success_col.cast("double")).alias("k")
    )
    m = per.agg(
        F.count(F.lit(1)).cast("double").alias("n_units"),
        F.avg("k").alias("m1"),
        F.avg(F.col("k") * F.col("k")).alias("m2"),
    )
    n = float(n_trials)
    denom = n * (F.col("m2") / F.col("m1") - F.col("m1") - 1) + F.col("m1")
    alpha = (n * F.col("m1") - F.col("m2")) / denom
    beta = (
        (n - F.col("m1")) * (n - F.col("m2") / F.col("m1"))
    ) / denom
    rho = 1 / (alpha + beta + 1)
    var_obs = F.col("m2") - F.col("m1") * F.col("m1")
    p = F.col("m1") / n
    var_bin = n * p * (1 - p)
    return m.select(
        F.col("n_units").cast("bigint").alias("n_units"),
        F.lit(n_trials).cast("bigint").alias("n_trials"),
        F.round(p, 6).alias("p_mean"),
        F.round(alpha, 6).alias("alpha"),
        F.round(beta, 6).alias("beta"),
        F.round(rho, 6).alias("rho_overdispersion"),
        F.round(var_obs / var_bin, 6).alias("var_ratio_vs_binomial"),
    )


def engle_granger_coint(
    df: DataFrame,
    order_col: str,
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Engle-Granger two-step cointegration check: regress y on x
    (closed-form OLS), then the Dickey-Fuller regression on the
    residual (delta e_t = gamma * e_{t-1}): a strongly negative
    t(gamma) says the spread mean-reverts — the two load series move
    together in the long run (e.g. clicks and views decoupling is an
    incident signal).

    Two aggregate passes + one lag window; the DF statistic is
    emitted raw (its critical values are tabulated, not closed-form
    — flagged at the asymptotic no-constant 5% point -1.95, the same
    convention as the repo's other tabulated tests).
    """
    base = df.select(
        F.col(order_col).alias("o"),
        F.col(x_col).cast("double").alias("x"),
        F.col(y_col).cast("double").alias("y"),
    )
    ols = base.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.avg("x").alias("mx"), F.avg("y").alias("my"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    ).select(
        "n",
        (
            (F.col("sxy") - F.col("n") * F.col("mx") * F.col("my"))
            / (F.col("sxx") - F.col("n") * F.col("mx") * F.col("mx"))
        ).alias("beta"),
        "mx", "my",
    ).select(
        "n", "beta", (F.col("my") - F.col("beta") * F.col("mx"))
        .alias("alpha"),
    )
    resid = base.crossJoin(ols).select(
        "o", "n", "alpha", "beta",
        (F.col("y") - F.col("alpha") - F.col("beta") * F.col("x"))
        .alias("e"),
    )
    w = Window.orderBy("o")
    d = resid.select(
        "n", "alpha", "beta",
        (F.col("e") - F.lag("e").over(w)).alias("de"),
        F.lag("e").over(w).alias("el"),
    ).filter(F.col("el").isNotNull())
    df_reg = d.agg(
        F.max("n").alias("n"),
        F.max("alpha").alias("alpha"),
        F.max("beta").alias("beta"),
        (F.sum(F.col("de") * F.col("el"))
         / F.sum(F.col("el") * F.col("el"))).alias("gamma"),
        F.sum(F.col("el") * F.col("el")).alias("see"),
        F.count(F.lit(1)).cast("double").alias("t"),
        F.sum(F.col("de") * F.col("de")).alias("sdd"),
        F.sum(F.col("de") * F.col("el")).alias("sde"),
    )
    ssr = F.col("sdd") - F.col("sde") * F.col("sde") / F.col("see")
    se = F.sqrt(ssr / (F.col("t") - 1) / F.col("see"))
    t_g = F.col("gamma") / se
    return df_reg.select(
        F.col("n").cast("bigint").alias("n_points"),
        F.round("alpha", 6).alias("coint_alpha"),
        F.round("beta", 6).alias("coint_beta"),
        F.round("gamma", 6).alias("df_gamma"),
        F.round(t_g, 6).alias("df_t_stat"),
        (t_g < -1.95).alias("cointegrated_5pct"),
    )


def newey_west_trend(
    df: DataFrame,
    order_col: str,
    value_col: str,
    max_lag: int = 4,
) -> DataFrame:
    """OLS time trend with Newey-West HAC standard errors: the naive
    OLS s.e. understates uncertainty when residuals autocorrelate
    (every telemetry series does).  S = sum_l w_l * sum_t u_t u_{t-l}
    x_t x_{t-l} with Bartlett weights w_l = 1 - l/(L+1); the robust
    variance sandwich is S / Sxx^2.

    One OLS aggregate, one residual pass with ``max_lag`` lag
    windows (a config constant), one reduction.  Emits both the
    naive and HAC t-statistics — the gap IS the finding.
    """
    w = Window.orderBy(order_col)
    base = df.select(
        F.col(order_col).alias("o"),
        F.col(value_col).cast("double").alias("y"),
    ).select(
        "o", "y",
        (F.row_number().over(w)).cast("double").alias("t"),
    )
    ols = base.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.avg("t").alias("mt"), F.avg("y").alias("my"),
        F.sum(F.col("t") * F.col("y")).alias("sty"),
        F.sum(F.col("t") * F.col("t")).alias("stt"),
    ).select(
        "n", "mt", "my",
        (
            (F.col("sty") - F.col("n") * F.col("mt") * F.col("my"))
            / (F.col("stt") - F.col("n") * F.col("mt") * F.col("mt"))
        ).alias("b"),
        (F.col("stt") - F.col("n") * F.col("mt") * F.col("mt"))
        .alias("sxx"),
    ).select(
        "n", "b", "sxx", "mt",
        (F.col("my") - F.col("b") * F.col("mt")).alias("a"),
    )
    r = base.crossJoin(ols).select(
        "o", "n", "b", "a", "sxx",
        (F.col("t") - F.col("mt")).alias("xc"),
        (F.col("y") - F.col("a") - F.col("b") * F.col("t")).alias("u"),
    )
    wo = Window.orderBy("o")
    lags = r.select(
        "n", "b", "sxx",
        (F.col("u") * F.col("u")).alias("u2"),
        (F.col("u") * F.col("xc")).alias("g0"),
        *[
            (
                F.col("u") * F.col("xc")
                * F.lag(F.col("u") * F.col("xc"), l).over(wo)
            ).alias(f"g{l}")
            for l in range(1, max_lag + 1)
        ],
    )
    s_expr = F.sum(F.col("g0") * F.col("g0"))
    for l in range(1, max_lag + 1):
        w_l = 1.0 - l / (max_lag + 1.0)
        s_expr = s_expr + 2.0 * w_l * F.sum(f"g{l}")
    agg = lags.agg(
        F.max("n").alias("n"), F.max("b").alias("b"),
        F.max("sxx").alias("sxx"),
        F.sum("u2").alias("ssr"),
        s_expr.alias("s_hac"),
    )
    se_naive = F.sqrt(
        F.col("ssr") / (F.col("n") - 2) / F.col("sxx")
    )
    se_hac = F.sqrt(F.col("s_hac") / (F.col("sxx") * F.col("sxx")))
    return agg.select(
        F.col("n").cast("bigint").alias("n_points"),
        F.round("b", 6).alias("slope"),
        F.round(se_naive, 6).alias("se_naive"),
        F.round(se_hac, 6).alias("se_hac"),
        F.round(F.col("b") / se_naive, 6).alias("t_naive"),
        F.round(F.col("b") / se_hac, 6).alias("t_hac"),
        F.round(se_hac / se_naive, 6).alias("hac_inflation"),
    )


def breusch_pagan(
    df: DataFrame,
    order_col: str,
    value_col: str,
) -> DataFrame:
    """Breusch-Pagan heteroskedasticity test on the time-trend
    regression: regress squared residuals on the trend index; LM =
    n * R-squared of the auxiliary fit — does the variance itself
    trend (load noise growing with load)?  chi-square(1), 95%
    critical 3.841.

    Two aggregate passes (main OLS, auxiliary OLS on u^2) and a
    window-free residual projection — all closed form.
    """
    w = Window.orderBy(order_col)
    base = df.select(
        F.col(value_col).cast("double").alias("y"),
        F.row_number().over(w).cast("double").alias("t"),
    )
    ols = base.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.avg("t").alias("mt"), F.avg("y").alias("my"),
        F.sum(F.col("t") * F.col("y")).alias("sty"),
        F.sum(F.col("t") * F.col("t")).alias("stt"),
    ).select(
        "n", "mt", "my",
        (
            (F.col("sty") - F.col("n") * F.col("mt") * F.col("my"))
            / (F.col("stt") - F.col("n") * F.col("mt") * F.col("mt"))
        ).alias("b"),
    ).select(
        "n", "mt", "b",
        (F.col("my") - F.col("b") * F.col("mt")).alias("a"),
    )
    u2 = base.crossJoin(ols).select(
        "t", "n",
        F.pow(
            F.col("y") - F.col("a") - F.col("b") * F.col("t"), 2
        ).alias("u2"),
    )
    aux = u2.agg(
        F.max("n").alias("n"),
        F.avg("t").alias("mt"), F.avg("u2").alias("mu"),
        F.sum(F.col("t") * F.col("u2")).alias("stu"),
        F.sum(F.col("t") * F.col("t")).alias("stt"),
        F.sum(F.col("u2") * F.col("u2")).alias("suu"),
    )
    sxx = F.col("stt") - F.col("n") * F.col("mt") * F.col("mt")
    sxy = F.col("stu") - F.col("n") * F.col("mt") * F.col("mu")
    syy = F.col("suu") - F.col("n") * F.col("mu") * F.col("mu")
    r2 = sxy * sxy / (sxx * syy)
    lm = F.col("n") * r2
    return aux.select(
        F.col("n").cast("bigint").alias("n_points"),
        F.round(r2, 6).alias("aux_r2"),
        F.round(lm, 6).alias("lm_stat"),
        (lm > 3.841).alias("heteroskedastic_95"),
    )


def hpa_replay(
    df: DataFrame,
    order_col: str,
    load_col: str,
    target_per_replica: float,
    min_replicas: int = 1,
    max_replicas: int = 20,
    stabilization: int = 3,
) -> DataFrame:
    """Horizontal-autoscaler replay: walk the load series through the
    HPA rule (desired = ceil(replicas * load/target / replicas) — i.e.
    ceil(load/target) — clamped to [min,max]; scale UP immediately,
    scale DOWN only to the max desired over the last ``stabilization``
    steps) and emit the replica trajectory — the capacity-planning
    what-if the collector's k8s-cluster metrics feed.

    Genuinely sequential (the stabilization window couples steps), so
    per series it is the repo's fold contract: collect the bounded
    rollup series, run the recurrence with the ``aggregate`` HOF
    in-row, explode back to (bucket, load, desired, replicas).
    """
    mn, mx = int(min_replicas), int(max_replicas)
    base = df.select(
        F.col(order_col).cast("long").alias("_o"),
        F.col(load_col).cast("double").alias("_x"),
    )
    ser = base.groupBy().agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("_o", "_x"))),
            lambda e: e["_x"],
        ).alias("_xs"),
        F.array_sort(F.collect_list("_o")).alias("_os"),
    )
    t = float(target_per_replica)
    fold = (
        "aggregate(_xs,"
        f" named_struct('r', cast({mn} as bigint),"
        " 'd1', cast(0 as bigint), 'd2', cast(0 as bigint),"
        " 'des', cast(array() as array<bigint>),"
        " 'rep', cast(array() as array<bigint>)),"
        " (acc, x) -> "
        f" named_struct("
        f" 'r', case when least(greatest(cast(ceil(x / {t}) as bigint),"
        f" {mn}), {mx}) > acc.r"
        f" then least(greatest(cast(ceil(x / {t}) as bigint), {mn}), {mx})"
        f" when greatest(least(greatest(cast(ceil(x / {t}) as bigint),"
        f" {mn}), {mx}), acc.d1, acc.d2) < acc.r"
        f" then greatest(least(greatest(cast(ceil(x / {t}) as bigint),"
        f" {mn}), {mx}), acc.d1, acc.d2)"
        " else acc.r end,"
        f" 'd1', least(greatest(cast(ceil(x / {t}) as bigint), {mn}),"
        f" {mx}),"
        " 'd2', acc.d1,"
        f" 'des', concat(acc.des, array(least(greatest("
        f" cast(ceil(x / {t}) as bigint), {mn}), {mx}))),"
        f" 'rep', concat(acc.rep, array(case when least(greatest("
        f" cast(ceil(x / {t}) as bigint), {mn}), {mx}) > acc.r"
        f" then least(greatest(cast(ceil(x / {t}) as bigint), {mn}),"
        f" {mx})"
        f" when greatest(least(greatest(cast(ceil(x / {t}) as bigint),"
        f" {mn}), {mx}), acc.d1, acc.d2) < acc.r"
        f" then greatest(least(greatest(cast(ceil(x / {t}) as bigint),"
        f" {mn}), {mx}), acc.d1, acc.d2)"
        " else acc.r end))))"
    )
    folded = ser.withColumn("_st", F.expr(fold))
    return folded.select(
        F.posexplode(
            F.arrays_zip(
                "_os", "_xs",
                F.col("_st").getField("des"),
                F.col("_st").getField("rep"),
            )
        ).alias("_i", "_z"),
    ).select(
        F.col("_z._os").alias("bucket"),
        F.round(F.col("_z._xs"), 4).alias("load"),
        F.col("_z.des").alias("desired"),
        F.col("_z.rep").alias("replicas"),
    ).orderBy("bucket")


def slo_multiwindow_alert(
    df: DataFrame,
    order_col: str,
    err_col: str,
    total_col: str,
    slo: float = 0.999,
    page_windows: tuple = (6, 1),
    page_burn: float = 14.4,
    ticket_windows: tuple = (24, 6),
    ticket_burn: float = 6.0,
) -> DataFrame:
    """Multi-window multi-burn-rate SLO alerting (the SRE-workbook
    policy): PAGE when both the long and short page windows burn
    error budget faster than ``page_burn``x, TICKET likewise at
    ``ticket_burn``x — short windows gate stale alerts, long windows
    gate flapping.

    Four rolling-sum windows over the ordered bucket series (rows
    frames, burn = rate/(1-slo)), one projection.  Emits every
    bucket with its four burn rates and the two flags.
    """
    budget = 1.0 - slo
    w = Window.orderBy(order_col)

    def burn(nbuckets):
        fr = w.rowsBetween(-(nbuckets - 1), 0)
        return (
            F.sum(F.col("e")).over(fr) / F.sum(F.col("t")).over(fr)
        ) / budget

    s = df.select(
        F.col(order_col).alias("bucket"),
        F.col(err_col).cast("double").alias("e"),
        F.col(total_col).cast("double").alias("t"),
    )
    pl, ps = page_windows
    tl, ts = ticket_windows
    out = s.select(
        "bucket",
        F.round(burn(pl), 6).alias("burn_page_long"),
        F.round(burn(ps), 6).alias("burn_page_short"),
        F.round(burn(tl), 6).alias("burn_ticket_long"),
        F.round(burn(ts), 6).alias("burn_ticket_short"),
    )
    return out.select(
        "*",
        (
            (F.col("burn_page_long") > page_burn)
            & (F.col("burn_page_short") > page_burn)
        ).alias("page"),
        (
            (F.col("burn_ticket_long") > ticket_burn)
            & (F.col("burn_ticket_short") > ticket_burn)
        ).alias("ticket"),
    ).orderBy("bucket")


def rbo_topk(
    df: DataFrame,
    epoch_col: str,
    item_col: str,
    score_col,
    k: int = 20,
    p: float = 0.9,
) -> DataFrame:
    """Rank-biased overlap (Webber 2010) between consecutive epochs'
    top-k lists — how stable is the leaderboard, weighted toward the
    top?  The drift-detection complement to rank_churn_topk: RBO(p)
    = (1-p) * sum_{d<=k} p^(d-1) * |A_d n B_d| / d.

    The depth sum collapses in closed form: each item present in
    BOTH prefixes at ranks (ra, rb) contributes the SUFFIX weight
    W[max(ra, rb)] with W[m] = sum_{d=m..k} p^(d-1)/d — a bounded
    literal array, so the whole computation is two rank windows, one
    epoch-pair self-join on the top-k rows, and an in-row array
    lookup.  No depth explode.
    """
    wsuf = [0.0] * (k + 2)
    for m in range(k, 0, -1):
        wsuf[m] = wsuf[m + 1] + p ** (m - 1) / m
    warr = F.array(*[F.lit(float(wsuf[m])) for m in range(1, k + 1)])
    wr = Window.partitionBy("ep").orderBy(F.desc("s"), F.asc("it"))
    ranked = df.groupBy(
        F.col(epoch_col).alias("ep"), F.col(item_col).alias("it")
    ).agg(F.sum(score_col.cast("double")).alias("s")).select(
        "ep", "it", F.row_number().over(wr).alias("rk")
    ).filter(F.col("rk") <= k)
    a = ranked.select(
        F.col("ep").alias("ea"), "it", F.col("rk").alias("ra")
    )
    b = ranked.select(
        (F.col("ep") - 1).alias("ea"), "it", F.col("rk").alias("rb")
    )
    j = a.join(b, ["ea", "it"])
    per = j.groupBy("ea").agg(
        F.count(F.lit(1)).cast("bigint").alias("overlap_k"),
        F.sum(
            F.element_at(warr, F.greatest("ra", "rb"))
        ).alias("wsum"),
    )
    return per.select(
        F.col("ea").alias("epoch"),
        (F.col("ea") + 1).alias("next_epoch"),
        "overlap_k",
        F.round(F.lit(1.0 - p) * F.col("wsum"), 6).alias("rbo"),
    ).orderBy("epoch")


def mrr_eval(
    df: DataFrame,
    query_col: str,
    item_col: str,
    score_col,
    relevant_item: str,
    k: int = 10,
) -> DataFrame:
    """Mean reciprocal rank at k: for each query, 1/rank of the first
    relevant item in its score-ranked list (0 if absent from the top
    k) — the first-hit retrieval metric beside the repo's nDCG@10
    and average-precision entries.

    One rank window per query over the (query, item) aggregate, one
    reduction.  Emits MRR, hit rate@k, and the mean winning rank
    among hits.
    """
    wr = Window.partitionBy("q").orderBy(F.desc("s"), F.asc("it"))
    ranked = df.groupBy(
        F.col(query_col).alias("q"), F.col(item_col).alias("it")
    ).agg(F.sum(score_col.cast("double")).alias("s")).select(
        "q", "it", F.row_number().over(wr).alias("rk")
    ).filter(F.col("rk") <= k)
    rr = ranked.groupBy("q").agg(
        F.max(
            F.when(
                F.col("it") == relevant_item, 1.0 / F.col("rk")
            ).otherwise(0.0)
        ).alias("rr"),
        F.max(
            F.when(F.col("it") == relevant_item, F.col("rk"))
        ).alias("hit_rank"),
    )
    return rr.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_queries"),
        F.round(F.avg("rr"), 6).alias("mrr"),
        F.round(
            F.avg((F.col("rr") > 0).cast("double")), 6
        ).alias("hit_rate_at_k"),
        F.round(F.avg("hit_rank"), 6).alias("mean_hit_rank"),
    )


def expected_reciprocal_rank(
    df: DataFrame,
    query_col: str,
    item_col: str,
    score_col,
    grade_col,
    g_max: int = 4,
    k: int = 10,
) -> DataFrame:
    """Expected reciprocal rank (Chapelle 2009): cascade-model
    ranking quality — ERR = sum_i (1/i) R_i prod_{j<i} (1 - R_j)
    with stop probability R = (2^g - 1)/2^g_max.  Unlike nDCG, a
    highly relevant early result SUPPRESSES credit for everything
    below it (the user stopped reading).

    The prefix product is a cumulative log-sum window per query
    (exp(sum(ln(1-R))) over the preceding frame) — no sequential
    fold.  Emits per-corpus mean ERR plus the per-rank credit mass.
    """
    wr = Window.partitionBy("q").orderBy(F.desc("s"), F.asc("it"))
    ranked = df.groupBy(
        F.col(query_col).alias("q"), F.col(item_col).alias("it")
    ).agg(
        F.sum(score_col.cast("double")).alias("s"),
        # graded gain: per-row grades SUM then cap at g_max, so a
        # grade_col of lit(1) yields g = min(count, g_max)
        F.least(
            F.sum(grade_col.cast("double")), F.lit(float(g_max))
        ).alias("g"),
    ).select(
        "q", "it", "g", F.row_number().over(wr).alias("rk")
    ).filter(F.col("rk") <= k)
    r_prob = (F.pow(F.lit(2.0), F.col("g")) - 1) / float(2 ** g_max)
    wprev = (
        Window.partitionBy("q").orderBy("rk")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    terms = ranked.select(
        "q", "rk", r_prob.alias("r"),
    ).select(
        "q", "rk", "r",
        F.exp(
            F.coalesce(
                F.sum(F.log(1 - F.col("r") + 1e-12)).over(wprev),
                F.lit(0.0),
            )
        ).alias("survive"),
    ).select(
        "q", "rk",
        (F.col("r") * F.col("survive") / F.col("rk")).alias("credit"),
    )
    per_q = terms.groupBy("q").agg(F.sum("credit").alias("err"))
    return per_q.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_queries"),
        F.round(F.avg("err"), 6).alias("mean_err"),
        F.round(F.min("err"), 6).alias("min_err"),
        F.round(F.max("err"), 6).alias("max_err"),
    )


def sample_entropy(
    df: DataFrame,
    order_col: str,
    value_col: str,
    r_frac: float = 0.2,
) -> DataFrame:
    """Sample entropy (m=2) of a rollup series: -ln(A/B) where B =
    matching template pairs of length 2 and A of length 3 under
    tolerance r = r_frac * std — the regularity score that separates
    metronomic (SampEn ~ 0) from white-noise load (SampEn high),
    complementing permutation entropy with an amplitude-aware view.

    Templates via two lead windows, pairs via a self-join restricted
    to i < j — quadratic in the SERIES length, which is the bounded
    rollup contract (document: |series| <= ~10^4), never the raw
    event count.  Explicit sum/sumsq std so the tolerance is
    engine-portable.
    """
    w = Window.orderBy(order_col)
    base = df.select(
        F.col(value_col).cast("double").alias("x"),
        F.row_number().over(w).alias("i"),
        F.lead(F.col(value_col).cast("double"), 1).over(w).alias("x1"),
        F.lead(F.col(value_col).cast("double"), 2).over(w).alias("x2"),
    )
    stats = base.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x").alias("s"),
        F.sum(F.col("x") * F.col("x")).alias("ss"),
    ).select(
        "n",
        F.sqrt(
            F.col("ss") / F.col("n")
            - (F.col("s") / F.col("n")) * (F.col("s") / F.col("n"))
        ).alias("sd"),
    )
    t = base.filter(F.col("x2").isNotNull()).crossJoin(stats)
    a_side = t.select(
        "i", "x", "x1", "x2", (F.col("sd") * r_frac).alias("r")
    )
    b_side = a_side.select(
        F.col("i").alias("j"), F.col("x").alias("y"),
        F.col("x1").alias("y1"), F.col("x2").alias("y2"),
    )
    pairs = a_side.crossJoin(b_side).filter(F.col("i") < F.col("j"))
    m2 = (
        F.greatest(
            F.abs(F.col("x") - F.col("y")),
            F.abs(F.col("x1") - F.col("y1")),
        ) <= F.col("r")
    )
    m3 = m2 & (F.abs(F.col("x2") - F.col("y2")) <= F.col("r"))
    agg = pairs.agg(
        F.sum(m2.cast("long")).cast("double").alias("b"),
        F.sum(m3.cast("long")).cast("double").alias("a"),
    )
    return agg.crossJoin(stats).select(
        F.col("n").cast("bigint").alias("n_points"),
        F.round("sd", 6).alias("std"),
        F.col("b").cast("bigint").alias("b_pairs"),
        F.col("a").cast("bigint").alias("a_pairs"),
        F.round(
            F.when(
                (F.col("a") > 0) & (F.col("b") > 0),
                -F.log(F.col("a") / F.col("b")),
            ),
            6,
        ).alias("sampen"),
    )


def lz78_complexity(
    df: DataFrame,
    group_cols: list[str],
    order_col: str,
    state_col,
) -> DataFrame:
    """LZ78 phrase complexity of a binarized series: greedy-parse the
    symbol stream into novel phrases; the phrase count (normalized by
    n/log2 n, the random-sequence asymptote) separates templated
    periodic load (low) from noise (near 1) — the dictionary-based
    complement to permutation/sample entropy.

    Sequential by nature -> per-series in-row fold (the repo's
    Kalman/Croston contract, bounded rollup series): state is the
    phrase dictionary as a delimited string, the current phrase, and
    the phrase count.  A trailing partial phrase counts as one.
    """
    base = df.select(
        *group_cols,
        F.col(order_col).cast("long").alias("_o"),
        state_col.cast("int").cast("string").alias("_b"),
    )
    ser = base.groupBy(*group_cols).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("_o", "_b"))),
            lambda e: e["_b"],
        ).alias("_bs"),
    )
    fold = (
        "aggregate(_bs,"
        " named_struct('dict', cast('|' as string),"
        " 'cur', cast('' as string), 'c', cast(0 as bigint)),"
        " (acc, ch) -> case"
        " when instr(acc.dict, '|' || acc.cur || ch || '|') > 0"
        " then named_struct('dict', acc.dict,"
        " 'cur', acc.cur || ch, 'c', acc.c)"
        " else named_struct("
        " 'dict', acc.dict || acc.cur || ch || '|',"
        " 'cur', cast('' as string), 'c', acc.c + 1) end,"
        " acc -> named_struct('dict', acc.dict, 'cur', acc.cur,"
        " 'c', acc.c + case when acc.cur <> '' then 1 else 0 end))"
    )
    folded = ser.withColumn("_st", F.expr(fold))
    n = F.size("_bs").cast("double")
    c = F.col("_st").getField("c").cast("double")
    return folded.select(
        *group_cols,
        F.size("_bs").cast("bigint").alias("n_symbols"),
        F.col("_st").getField("c").alias("n_phrases"),
        F.round(c / (n / F.log2(n)), 6).alias("normalized_complexity"),
    )


def canary_verdict(
    df: DataFrame,
    metric_col: str,
    group_col,
    value_col,
    z_crit: float = 1.96,
) -> DataFrame:
    """Kayenta-style canary analysis: per metric, compare the canary
    population against control with the Mann-Whitney rank-sum z
    (computed on the bounded cents grid, tie-corrected midranks) and
    classify Pass / High / Low; the run verdict is the share of
    passing metrics.

    All rank machinery lives on the (metric x distinct-cents) grid —
    the Brunner-Munzel/Jonckheere scale pattern.  Emits one row per
    metric plus classification.
    """
    g = df.select(
        F.col(metric_col).alias("m"),
        group_col.cast("int").alias("cn"),
        F.round(value_col.cast("double") * 100).cast("long").alias("v"),
    ).groupBy("m", "v").agg(
        F.count(F.lit(1)).cast("double").alias("c"),
        F.sum("cn").cast("double").alias("c1"),
    )
    wlt = (
        Window.partitionBy("m").orderBy("v")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    mid = g.select(
        "m", "v", "c", "c1",
        (
            F.coalesce(F.sum("c").over(wlt), F.lit(0.0))
            + (F.col("c") + 1) / 2
        ).alias("midrank"),
    )
    agg = mid.groupBy("m").agg(
        F.sum(F.col("c1") * F.col("midrank")).alias("r1"),
        F.sum("c1").alias("n1"),
        F.sum(F.col("c") - F.col("c1")).alias("n2"),
        F.sum(
            F.col("c") * F.col("c") * F.col("c") - F.col("c")
        ).alias("tie3"),
    )
    n = F.col("n1") + F.col("n2")
    u = F.col("r1") - F.col("n1") * (F.col("n1") + 1) / 2
    mu = F.col("n1") * F.col("n2") / 2
    var = (
        F.col("n1") * F.col("n2") / 12
        * ((n + 1) - F.col("tie3") / (n * (n - 1)))
    )
    z = (u - mu) / F.sqrt(var)
    cls = (
        F.when(z > z_crit, F.lit("High"))
        .when(z < -z_crit, F.lit("Low"))
        .otherwise(F.lit("Pass"))
    )
    per = agg.select(
        F.col("m").alias("metric"),
        F.col("n1").cast("bigint").alias("n_canary"),
        F.col("n2").cast("bigint").alias("n_control"),
        F.round(u, 2).alias("mw_u"),
        F.round(z, 6).alias("z"),
        cls.alias("classification"),
    )
    score = per.agg(
        F.round(
            F.avg((F.col("classification") == "Pass").cast("double")),
            6,
        ).alias("pass_share")
    )
    return per.crossJoin(score).orderBy("metric")


def port_scan_detect(
    df: DataFrame,
    src_col: str,
    port_col: str,
    ts_col: str,
    window_s: int = 60,
    min_ports: int = 15,
) -> DataFrame:
    """Port-scan detector: sources touching many DISTINCT ports
    within a short tumbling window — wide-and-shallow across ports,
    the service-surface analogue of the password spray.  Per (src,
    window): distinct ports, total probes; emits sources whose WORST
    window crosses ``min_ports``, with their scanning profile.
    """
    b = df.select(
        F.col(src_col).alias("src"),
        F.col(port_col).alias("port"),
        F.floor(F.unix_timestamp(ts_col) / window_s).alias("win"),
    )
    per_win = b.groupBy("src", "win").agg(
        F.countDistinct("port").alias("ports"),
        F.count(F.lit(1)).alias("probes"),
    )
    worst = per_win.groupBy("src").agg(
        F.max("ports").cast("bigint").alias("max_ports_per_win"),
        F.countDistinct("win").cast("bigint").alias("active_windows"),
        F.sum("probes").cast("bigint").alias("total_probes"),
    )
    return worst.filter(
        F.col("max_ports_per_win") >= min_ports
    ).select(
        "src", "max_ports_per_win", "active_windows", "total_probes",
        F.round(
            F.col("total_probes") / F.col("active_windows").cast("double"),
            6,
        ).alias("probes_per_window"),
    ).orderBy("src")


def binseg_changepoints(
    df: DataFrame,
    order_col: str,
    value_col: str,
) -> DataFrame:
    """Greedy binary-segmentation changepoint detection (two rounds,
    piecewise-constant mean, SSE cost): find the best split of the
    series, then the best split of whichever half improves most —
    up to 3 segments.  The multi-change complement to the repo's
    single-change CUSUM/Pettitt entries.

    Entirely in-plan: prefix sums via one ordered window, candidate
    gains in-row, argmax via rank-1 windows, the chosen splits
    cross-joined back as 1-row aggregates — no driver-side state.
    Quadratic in NOTHING: every stage is linear in the bounded
    rollup series.  Emits (segment, start, end, n, mean, sse).
    """
    w = Window.orderBy(order_col)
    wi = Window.orderBy("i").rowsBetween(Window.unboundedPreceding, 0)
    c = df.select(
        F.col(value_col).cast("double").alias("x"),
        F.row_number().over(w).cast("double").alias("i"),
    ).select(
        "x", "i",
        F.sum("x").over(wi).alias("cs"),
        F.sum(F.col("x") * F.col("x")).over(wi).alias("css"),
    ).localCheckpoint(eager=True)
    tot = c.agg(
        F.max("i").alias("n"), F.max("cs").alias("s"),
        F.max("css").alias("ss"),
    )

    def sse(cnt, sm, sq):
        return sq - sm * sm / cnt

    cand1 = c.crossJoin(tot).filter(F.col("i") < F.col("n")).select(
        F.col("i").alias("s1"),
        (
            sse(F.col("n"), F.col("s"), F.col("ss"))
            - sse(F.col("i"), F.col("cs"), F.col("css"))
            - sse(
                F.col("n") - F.col("i"),
                F.col("s") - F.col("cs"),
                F.col("ss") - F.col("css"),
            )
        ).alias("_g1"),
    ).select("s1", F.round("_g1", 9).alias("gain1"))
    r1 = Window.orderBy(F.desc("gain1"), F.asc("s1"))
    best1 = cand1.select(
        "*", F.row_number().over(r1).alias("rk")
    ).filter(F.col("rk") == 1).select("s1", "gain1")
    # round 2: best internal split of either resulting segment
    cc = c.crossJoin(best1).crossJoin(tot)
    seg = F.when(F.col("i") <= F.col("s1"), F.lit(0)).otherwise(F.lit(1))
    lo = F.when(seg == 0, F.lit(0.0)).otherwise(F.col("s1"))
    hi = F.when(seg == 0, F.col("s1")).otherwise(F.col("n"))
    cand2 = cc.select(
        "i", "cs", "css", "s1", "n", "s", "ss",
        seg.alias("seg"), lo.alias("lo"), hi.alias("hi"),
    )
    # prefix sums at the segment's left boundary (0 for seg 0, at s1
    # for seg 1) come from the split row itself
    at_s1 = c.crossJoin(best1).filter(
        F.col("i") == F.col("s1")
    ).select(
        F.col("cs").alias("cs1"), F.col("css").alias("css1")
    )
    cand2 = cand2.crossJoin(at_s1).filter(
        F.col("i") < F.col("hi")
    ).select(
        "seg", "lo", "hi", F.col("i").alias("s2"),
        (
            sse(
                F.col("hi") - F.col("lo"),
                F.when(F.col("seg") == 0, F.col("cs1"))
                .otherwise(F.col("s") - F.col("cs1")),
                F.when(F.col("seg") == 0, F.col("css1"))
                .otherwise(F.col("ss") - F.col("css1")),
            )
            - sse(
                F.col("i") - F.col("lo"),
                F.col("cs") - F.when(F.col("seg") == 0, F.lit(0.0))
                .otherwise(F.col("cs1")),
                F.col("css") - F.when(F.col("seg") == 0, F.lit(0.0))
                .otherwise(F.col("css1")),
            )
            - sse(
                F.col("hi") - F.col("i"),
                F.when(F.col("seg") == 0, F.col("cs1"))
                .otherwise(F.col("s")) - F.col("cs"),
                F.when(F.col("seg") == 0, F.col("css1"))
                .otherwise(F.col("ss")) - F.col("css"),
            )
        ).alias("_g2"),
    ).filter(F.col("s2") > F.col("lo")).select(
        "seg", "lo", "hi", "s2", F.round("_g2", 9).alias("gain2")
    )
    r2 = Window.orderBy(F.desc("gain2"), F.asc("s2"))
    best2 = cand2.select(
        "*", F.row_number().over(r2).alias("rk")
    ).filter(F.col("rk") == 1).select("s2", "gain2")
    # final segmentation: breaks at s1 and s2
    seg_rows = c.crossJoin(best1).crossJoin(best2).select(
        "x", "i",
        F.when(
            F.col("i") <= F.least("s1", "s2"), F.lit(0)
        ).when(
            F.col("i") <= F.greatest("s1", "s2"), F.lit(1)
        ).otherwise(F.lit(2)).alias("segment"),
        F.round("gain1", 4).alias("gain1"),
        F.round("gain2", 4).alias("gain2"),
    )
    return seg_rows.groupBy("segment", "gain1", "gain2").agg(
        F.min("i").cast("bigint").alias("start_idx"),
        F.max("i").cast("bigint").alias("end_idx"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.round(F.avg("x"), 6).alias("seg_mean"),
        F.round(
            F.sum(F.col("x") * F.col("x"))
            - F.sum("x") * F.sum("x") / F.count(F.lit(1)),
            4,
        ).alias("seg_sse"),
    ).orderBy("segment")


def zip_mom_fit(
    nonzero_counts: DataFrame,
    count_col: str,
    totals: DataFrame,
    total_col: str = "n_cells",
) -> DataFrame:
    """Zero-inflated Poisson method-of-moments fit over a count
    column: lambda = (var + mean^2 - mean)/mean, pi = 1 - mean/
    lambda — does the excess-zero mass come from a separate
    'structurally inactive' population?  Emits the fit plus the
    model-vs-observed zero share (the diagnostic that justifies ZIP
    over plain Poisson).  One aggregate pass.

    Grid-free: the moments are over the COMPLETE zero-filled unit
    grid; but with ``n`` total cells known (a 1-row ``totals`` frame,
    typically n_units x n_buckets computed from two tiny distinct
    counts), every grid moment is arithmetic on the nonzero cells
    alone: mean = s/n, second moment = q/n, observed zero share =
    (n - n_nonzero)/n — integer count sums are exact in doubles, so
    the output is float-identical to averaging the dense grid, with
    no |units| x |buckets| crossJoin.
    """
    k = F.col(count_col).cast("double")
    nz = nonzero_counts.agg(
        F.count(F.lit(1)).cast("double").alias("_nnz"),
        F.sum(k).alias("_s"),
        F.sum(k * k).alias("_q"),
    )
    a = nz.crossJoin(totals)
    n = F.col(total_col).cast("double")
    m = F.col("_s") / n
    m2 = F.col("_q") / n
    p0 = (n - F.col("_nnz")) / n
    var = m2 - m * m
    lam = (var + m * m - m) / m
    pi = 1 - m / lam
    p0_model = pi + (1 - pi) * F.exp(-lam)
    return a.select(
        n.cast("bigint").alias("n_obs"),
        F.round(m, 6).alias("mean"),
        F.round(var, 6).alias("var"),
        F.round(lam, 6).alias("lambda_fit"),
        F.round(pi, 6).alias("pi_zero_inflation"),
        F.round(p0, 6).alias("zero_share_observed"),
        F.round(p0_model, 6).alias("zero_share_model"),
    )


def tail_dependence(
    df: DataFrame,
    x_col: str,
    y_col: str,
    q: float = 0.9,
) -> DataFrame:
    """Upper-tail dependence between two series: chi(q) = P(X > x_q
    AND Y > y_q) / P(Y > y_q) — do the two metrics CO-CRASH beyond
    what correlation says?  Under independence chi -> 1-q; chi near
    1 means joint extremes.

    Thresholds are exact type-1 quantiles computed by integer count
    logic on the bounded distinct-value grid (smallest value whose
    cumulative count reaches ceil(q*n)) — engine-portable with no
    interpolation-rule ambiguity.  Two grid windows, one reduction.
    """
    base = df.select(
        F.col(x_col).cast("double").alias("x"),
        F.col(y_col).cast("double").alias("y"),
    ).localCheckpoint(eager=True)
    n = base.count()
    rank_target = -(-q * n // 1)  # ceil

    def thresh(col):
        g = base.groupBy(col).agg(F.count(F.lit(1)).alias("c"))
        wc = Window.orderBy(col).rowsBetween(
            Window.unboundedPreceding, 0
        )
        return g.select(
            F.col(col).alias("v"), F.sum("c").over(wc).alias("cum")
        ).filter(F.col("cum") >= F.lit(rank_target)).agg(
            F.min("v").alias(f"q_{col}")
        )
    j = base.crossJoin(thresh("x")).crossJoin(thresh("y"))
    agg = j.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(
            ((F.col("x") > F.col("q_x")) & (F.col("y") > F.col("q_y")))
            .cast("long")
        ).cast("double").alias("both"),
        F.sum((F.col("y") > F.col("q_y")).cast("long"))
        .cast("double").alias("ytail"),
        F.max("q_x").alias("q_x"),
        F.max("q_y").alias("q_y"),
    )
    return agg.select(
        F.col("n").cast("bigint").alias("n_points"),
        F.round("q_x", 4).alias("x_threshold"),
        F.round("q_y", 4).alias("y_threshold"),
        F.col("both").cast("bigint").alias("n_joint_exceed"),
        F.col("ytail").cast("bigint").alias("n_y_exceed"),
        F.round(
            F.when(F.col("ytail") > 0, F.col("both") / F.col("ytail")),
            6,
        ).alias("chi_tail_dep"),
        F.round(F.lit(1.0 - q), 6).alias("chi_independent"),
    )


def cochrans_q(
    df: DataFrame,
    unit_col: str,
    item_col: str,
    success_col,
    items: list[str],
) -> DataFrame:
    """Cochran's Q test for k matched binary treatments: do the
    items' success rates differ when every unit experiences all k?
    (Here: does a user engage with click vs view vs purchase at the
    same rate?)  Q = k(k-1) sum_j (G_j - Gbar)^2 / (k sum L_i -
    sum L_i^2), chi-square(k-1) under H0 — the binary sibling of the
    repo's Friedman test.

    Zero-filled (unit x item) incidence via a literal item explode
    (complete-block requirement), two keyed aggregates, one
    reduction.  Flag at the chi2 95% point for k-1 df, passed by the
    caller.
    """
    k = len(items)
    cells = df.groupBy(
        F.col(unit_col).alias("unit"), F.col(item_col).alias("item")
    ).agg(
        F.max(success_col.cast("int")).alias("y")
    )
    grid = cells.select("unit").distinct().select(
        "unit",
        F.explode(F.array(*[F.lit(i) for i in items])).alias("item"),
    )
    full = grid.join(cells, ["unit", "item"], "left").select(
        "unit", "item",
        F.coalesce("y", F.lit(0)).cast("double").alias("y"),
    )
    rows_l = full.groupBy("unit").agg(F.sum("y").alias("l"))
    lsum = rows_l.agg(
        F.sum("l").alias("sl"),
        F.sum(F.col("l") * F.col("l")).alias("sl2"),
        F.count(F.lit(1)).cast("double").alias("n_units"),
    )
    cols_g = full.groupBy("item").agg(F.sum("y").alias("g"))
    gdev = cols_g.crossJoin(lsum).agg(
        F.sum(
            (F.col("g") - F.col("sl") / k)
            * (F.col("g") - F.col("sl") / k)
        ).alias("ssg"),
        F.max("sl").alias("sl"),
        F.max("sl2").alias("sl2"),
        F.max("n_units").alias("n_units"),
    )
    den = k * F.col("sl") - F.col("sl2")
    # every unit succeeding on ALL items (or none) leaves no within-
    # unit variance: Q is undefined -> NULL, matching the oracle
    q = F.when(den > 0, k * (k - 1) * F.col("ssg") / den)
    return gdev.select(
        F.lit(k).cast("bigint").alias("k_items"),
        F.col("n_units").cast("bigint").alias("n_units"),
        F.lit(k - 1).cast("bigint").alias("df"),
        F.round(q, 6).alias("q_stat"),
    )


def icc_oneway(
    df: DataFrame,
    group_col: str,
    value_col,
) -> DataFrame:
    """One-way intraclass correlation ICC(1): what share of total
    variance is BETWEEN groups?  (Are a conversation's latencies
    more alike than the corpus at large — the clustering-degree
    input to design-effect corrections.)  Unequal group sizes use
    the standard k0 = (N - sum n_i^2 / N)/(g-1) adjustment.

    One group aggregate + one reduction; ANOVA sums from power sums
    (engine-portable float path).
    """
    g = df.groupBy(F.col(group_col).alias("grp")).agg(
        F.count(F.lit(1)).cast("double").alias("n_i"),
        F.sum(value_col.cast("double")).alias("s_i"),
        F.sum(
            value_col.cast("double") * value_col.cast("double")
        ).alias("ss_i"),
    )
    a = g.agg(
        F.count(F.lit(1)).cast("double").alias("g"),
        F.sum("n_i").alias("n"),
        F.sum("s_i").alias("s"),
        F.sum("ss_i").alias("ss"),
        F.sum(F.col("s_i") * F.col("s_i") / F.col("n_i")).alias("sb"),
        F.sum(F.col("n_i") * F.col("n_i")).alias("sn2"),
    )
    ss_total = F.col("ss") - F.col("s") * F.col("s") / F.col("n")
    ss_between = F.col("sb") - F.col("s") * F.col("s") / F.col("n")
    ss_within = F.col("ss") - F.col("sb")
    msb = ss_between / (F.col("g") - 1)
    msw = ss_within / (F.col("n") - F.col("g"))
    k0 = (
        F.col("n") - F.col("sn2") / F.col("n")
    ) / (F.col("g") - 1)
    icc = (msb - msw) / (msb + (k0 - 1) * msw)
    return a.select(
        F.col("g").cast("bigint").alias("n_groups"),
        F.col("n").cast("bigint").alias("n_obs"),
        F.round(msb, 6).alias("ms_between"),
        F.round(msw, 6).alias("ms_within"),
        F.round(k0, 6).alias("k0"),
        F.round(icc, 6).alias("icc1"),
        F.round(ss_between / ss_total, 6).alias("eta_squared"),
    )


def mcc_best_threshold(
    df: DataFrame,
    score_col,
    label_col,
) -> DataFrame:
    """Matthews-correlation threshold sweep on the bounded cents
    grid: for every candidate cutoff (each distinct score), the full
    confusion matrix comes from two cumulative windows — no per-
    threshold rescan — and the argmax-MCC cutoff is a rank-1 window.
    The class-imbalance-honest counterpart of the repo's
    classifier_threshold_eval (F1 favors the majority class; MCC
    does not).
    """
    cum = _confusion_sweep(df, score_col, label_col).select(
        "v", "tp", "fp",
        (F.col("p") - F.col("tp")).alias("fn"),
        (F.col("n") - F.col("p") - F.col("fp")).alias("tn"),
    )
    num = F.col("tp") * F.col("tn") - F.col("fp") * F.col("fn")
    den = F.sqrt(
        (F.col("tp") + F.col("fp")) * (F.col("tp") + F.col("fn"))
        * (F.col("tn") + F.col("fp")) * (F.col("tn") + F.col("fn"))
    )
    mcc = F.when(den > 0, num / den).otherwise(F.lit(0.0))
    scored = cum.select(
        "v", "tp", "fp", "fn", "tn",
        F.round(mcc, 9).alias("mcc"),
    )
    r = Window.orderBy(F.desc("mcc"), F.asc("v"))
    return scored.select(
        "*", F.row_number().over(r).alias("rk")
    ).filter(F.col("rk") == 1).select(
        (F.col("v") / 100.0).alias("best_threshold"),
        F.col("tp").cast("bigint").alias("tp"),
        F.col("fp").cast("bigint").alias("fp"),
        F.col("fn").cast("bigint").alias("fn"),
        F.col("tn").cast("bigint").alias("tn"),
        F.round("mcc", 6).alias("best_mcc"),
    )


def speaker_dominance(
    df: DataFrame,
    conv_col: str,
    order_col: str,
    role_col: str,
) -> DataFrame:
    """Turn-taking profile per conversation: role share entropy
    (balanced dialogue vs monologue), the dominant role's share, and
    the longest same-role RUN (monologue streak, via the gaps-and-
    islands window trick) — curation signals for conversational
    balance.

    One lag window for run boundaries, two keyed aggregates; entropy
    over the bounded role set in-row.
    """
    w = Window.partitionBy(conv_col).orderBy(order_col)
    runs = df.select(
        F.col(conv_col).alias("conv"),
        F.col(order_col).alias("o"),
        F.col(role_col).alias("role"),
        (
            F.when(
                F.lag(role_col).over(w).isNull()
                | (F.lag(role_col).over(w) != F.col(role_col)),
                1,
            ).otherwise(0)
        ).alias("brk"),
    ).select(
        "conv", "role",
        F.sum("brk").over(
            Window.partitionBy("conv").orderBy("o")
        ).alias("run_id"),
    )
    run_len = runs.groupBy("conv", "run_id", "role").agg(
        F.count(F.lit(1)).alias("rl")
    )
    longest = run_len.groupBy("conv").agg(
        F.max("rl").cast("bigint").alias("longest_run")
    )
    shares = df.groupBy(
        F.col(conv_col).alias("conv"), F.col(role_col).alias("role")
    ).agg(F.count(F.lit(1)).cast("double").alias("c"))
    tot = shares.groupBy("conv").agg(F.sum("c").alias("t"))
    ent = shares.join(tot, "conv").groupBy("conv").agg(
        F.max("t").cast("bigint").alias("n_turns"),
        F.round(
            -F.sum(
                (F.col("c") / F.col("t"))
                * F.log2(F.col("c") / F.col("t"))
            ),
            6,
        ).alias("role_entropy"),
        F.round(F.max(F.col("c") / F.col("t")), 6).alias(
            "dominant_share"
        ),
    )
    return ent.join(longest, "conv").orderBy("conv")


def adjacent_turn_overlap(
    df: DataFrame,
    conv_col: str,
    order_col: str,
    text_col: str,
) -> DataFrame:
    """Adjacent-turn lexical cosine per conversation: |A n B| /
    sqrt(|A||B|) over distinct-word sets of each turn and its
    successor — a cheap response-relevance signal (echoing and
    topic-tracking score high; non-sequiturs score zero), computed
    entirely with in-row array ops (split, array_distinct,
    array_intersect) and one lead window.  No posting lists, no
    UDFs.
    """
    w = Window.partitionBy(conv_col).orderBy(order_col)
    words = F.array_distinct(F.split(F.trim(F.col(text_col)), " +"))
    s = df.select(
        F.col(conv_col).alias("conv"),
        words.alias("a"),
        F.lead(words).over(w).alias("b"),
    ).filter(F.col("b").isNotNull())
    sim = F.size(F.array_intersect("a", "b")) / F.sqrt(
        F.size("a").cast("double") * F.size("b").cast("double")
    )
    return s.groupBy("conv").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.round(F.avg(sim), 6).alias("mean_overlap"),
        F.round(F.min(sim), 6).alias("min_overlap"),
        F.round(
            F.avg((F.size(F.array_intersect("a", "b")) == 0)
                  .cast("double")),
            6,
        ).alias("nonsequitur_share"),
    ).orderBy("conv")


def wilcoxon_signed_rank(
    df: DataFrame,
    x_col,
    y_col,
) -> DataFrame:
    """Wilcoxon signed-rank test for PAIRED samples (the within-unit
    complement to the repo's unpaired Mann-Whitney): rank |x - y|
    with midranks over the bounded cents grid, W+ = rank sum of
    positive differences, normal approximation with the standard tie
    correction.  Zero differences drop (Wilcoxon's rule).

    Differences collapse to the distinct-|d|-cents grid first; one
    ordered grid window computes midranks — rank machinery never
    touches raw rows.
    """
    d = df.select(
        (
            F.round(x_col.cast("double") * 100)
            - F.round(y_col.cast("double") * 100)
        ).cast("long").alias("d")
    ).filter(F.col("d") != 0)
    g = d.select(
        F.abs("d").alias("ad"),
        (F.col("d") > 0).cast("double").alias("pos"),
    ).groupBy("ad").agg(
        F.count(F.lit(1)).cast("double").alias("c"),
        F.sum("pos").alias("cpos"),
    )
    wlt = Window.orderBy("ad").rowsBetween(
        Window.unboundedPreceding, -1
    )
    mid = g.select(
        "ad", "c", "cpos",
        (
            F.coalesce(F.sum("c").over(wlt), F.lit(0.0))
            + (F.col("c") + 1) / 2
        ).alias("midrank"),
    )
    a = mid.agg(
        F.sum("c").alias("n"),
        F.sum(F.col("cpos") * F.col("midrank")).alias("wplus"),
        F.sum(
            F.col("c") * F.col("c") * F.col("c") - F.col("c")
        ).alias("tie3"),
    )
    n = F.col("n")
    mu = n * (n + 1) / 4
    var = n * (n + 1) * (2 * n + 1) / 24 - F.col("tie3") / 48
    z = (F.col("wplus") - mu) / F.sqrt(var)
    return a.select(
        n.cast("bigint").alias("n_nonzero_pairs"),
        F.round("wplus", 2).alias("w_plus"),
        F.round(mu, 2).alias("expected_w"),
        F.round(z, 6).alias("z"),
        (F.abs(z) > 1.96).alias("significant_95"),
    )


def lindley_queue_replay(
    df: DataFrame,
    order_col: str,
    interarrival_col: str,
    service_col: str,
) -> DataFrame:
    """Lindley-recursion queue replay: W_k = max(0, W_{k-1} + S_{k-1}
    - A_k) — the EXACT per-request waiting times a G/G/1 server
    would produce for the observed arrival/service sequence, the
    empirical twin of the analytic mg1_waiting entry (which only
    gives the steady-state mean).

    The recursion is sequential, but it has an EXACT closed form —
    the reflected-random-walk identity: with U_k = S_{k-1} - A_k
    (U_1 = 0, since W_1 = max(0, -A_1) = 0) and prefix sums
    P_k = sum_{i<=k} U_i,

        W_k = P_k - min(0, min_{j<=k} P_j)

    so the whole trajectory is two running window aggregates instead
    of an in-row fold.  (The previous fold built its output array via
    concat-per-step — O(n^2) copying, 340 s for a 20k-point series;
    this is linear and streams.)  Inputs quantize to an integer
    microsecond grid first, so the prefix sums are exact bigints and
    the identity holds bit-for-bit on every engine — no fold-order or
    round-boundary sensitivity at all.  Single-series by contract
    (the bounded replay); partition the window by a key column first
    for a per-key fleet replay.
    """
    w = Window.orderBy("_o")
    run = Window.orderBy("_o").rowsBetween(Window.unboundedPreceding, 0)
    base = df.select(
        F.col(order_col).cast("long").alias("_o"),
        F.col(interarrival_col).cast("double").alias("_a"),
        F.col(service_col).cast("double").alias("_s"),
        F.round(F.col(interarrival_col).cast("double") * 1e6)
        .cast("long")
        .alias("_a_us"),
        F.round(F.col(service_col).cast("double") * 1e6)
        .cast("long")
        .alias("_s_us"),
    )
    u = base.withColumn(
        "_u",
        F.coalesce(F.lag("_s_us").over(w) - F.col("_a_us"), F.lit(0)),
    )
    p = u.withColumn("_p", F.sum("_u").over(run))
    m = p.withColumn("_mn", F.least(F.min("_p").over(run), F.lit(0)))
    return m.select(
        F.col("_o").alias("k"),
        F.round(F.col("_a"), 6).alias("interarrival"),
        F.round(F.col("_s"), 6).alias("service"),
        F.round(
            (F.col("_p") - F.col("_mn")).cast("double") / 1e6, 6
        ).alias("wait"),
    ).orderBy("k")


def skyline_2d(
    df: DataFrame,
    id_col: str,
    x_col,
    y_col,
) -> DataFrame:
    """2-D skyline (Pareto front, maximize both axes): the points no
    other point dominates — the classic multi-objective 'best
    tradeoff' operator Spark lacks.  (Here: which users are
    undominated on (total spend, activity)?)

    The scale move: NOT the quadratic dominance join — sort by x
    descending and keep a running maximum of y over STRICTLY higher
    x; a point is on the skyline iff its y exceeds that cummax.
    Ties on x share the same strict-predecessor frame via a dense
    grid: one aggregate to distinct-x maxima, one ordered window,
    one semi-join back.
    """
    pts = df.select(
        F.col(id_col).alias("id"),
        x_col.cast("double").alias("x"),
        y_col.cast("double").alias("y"),
    )
    per_x = pts.groupBy("x").agg(F.max("y").alias("ymax"))
    wprev = Window.orderBy(F.desc("x")).rowsBetween(
        Window.unboundedPreceding, -1
    )
    frontier = per_x.select(
        "x", "ymax",
        F.coalesce(
            F.max("ymax").over(wprev), F.lit(float("-inf"))
        ).alias("best_higher_y"),
    )
    # survive iff (a) nothing with strictly higher x reaches my y AND
    # (b) I am the y-max at my own x (same-x higher-y dominates me)
    sky = pts.join(frontier, "x").filter(
        (F.col("y") > F.col("best_higher_y"))
        & (F.col("y") == F.col("ymax"))
    )
    return sky.select(
        "id",
        F.round("x", 6).alias("x"),
        F.round("y", 6).alias("y"),
    ).orderBy(F.desc("x"), F.desc("y"), F.asc("id"))


def blocking_quality(
    df: DataFrame,
    id_col: str,
    block_col,
    truth_col,
) -> DataFrame:
    """Entity-resolution blocking quality: pair completeness (share
    of TRUE duplicate pairs that share a block) and the reduction
    ratio (share of all pairs the blocking key prunes away) — the
    two numbers that justify soundex/LSH blocking before an O(n^2)
    matcher.

    Everything from counts: candidate pairs = sum over blocks of
    C(b,2); true pairs = sum over truth keys of C(t,2); caught true
    pairs = sum over (truth, block) cells of C(c,2) — no pair is
    ever materialized.
    """
    cells = df.select(
        F.col(id_col).alias("id"),
        block_col.alias("blk"),
        truth_col.alias("tr"),
    )
    n_total = cells.agg(F.count(F.lit(1)).cast("double").alias("n"))

    def pairs(grouped, name):
        return grouped.agg(
            F.sum(
                F.col("c") * (F.col("c") - 1) / 2
            ).alias(name)
        )

    blk = pairs(
        cells.groupBy("blk").agg(F.count(F.lit(1)).cast("double")
                                 .alias("c")).groupBy(),
        "cand_pairs",
    )
    tru = pairs(
        cells.groupBy("tr").agg(F.count(F.lit(1)).cast("double")
                                .alias("c")).groupBy(),
        "true_pairs",
    )
    caught = pairs(
        cells.groupBy("tr", "blk").agg(
            F.count(F.lit(1)).cast("double").alias("c")
        ).groupBy(),
        "caught_pairs",
    )
    j = blk.crossJoin(tru).crossJoin(caught).crossJoin(n_total)
    all_pairs = F.col("n") * (F.col("n") - 1) / 2
    return j.select(
        F.col("n").cast("bigint").alias("n_records"),
        F.col("cand_pairs").cast("bigint").alias("candidate_pairs"),
        F.col("true_pairs").cast("bigint").alias("true_pairs"),
        F.col("caught_pairs").cast("bigint").alias("caught_true_pairs"),
        F.round(
            F.when(
                F.col("true_pairs") > 0,
                F.col("caught_pairs") / F.col("true_pairs"),
            ),
            6,
        ).alias("pair_completeness"),
        F.round(1 - F.col("cand_pairs") / all_pairs, 6).alias(
            "reduction_ratio"
        ),
    )


def ewma_control_chart(
    df: DataFrame,
    order_col: str,
    value_col: str,
    lam: float = 0.2,
    l_sigma: float = 3.0,
) -> DataFrame:
    """EWMA control chart (SPC): z_t = lam*x_t + (1-lam)*z_{t-1}
    against the time-varying limits mu +/- L*sigma*sqrt(lam/(2-lam)
    * (1-(1-lam)^{2t})) — catches small sustained shifts the
    Shewhart p-chart misses; the Nelson-rules companion.

    The EWMA recursion is a per-series fold (bounded rollup
    contract); mu/sigma come from one explicit sum/sumsq pass so the
    float path is engine-portable.  Emits every point with its EWMA,
    limits, and violation flag.
    """
    base = df.select(
        F.col(order_col).cast("long").alias("_o"),
        F.col(value_col).cast("double").alias("_x"),
    )
    stats = base.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("_x").alias("s"),
        F.sum(F.col("_x") * F.col("_x")).alias("ss"),
    ).select(
        (F.col("s") / F.col("n")).alias("mu"),
        F.sqrt(
            F.col("ss") / F.col("n")
            - (F.col("s") / F.col("n")) * (F.col("s") / F.col("n"))
        ).alias("sd"),
    )
    ser = base.crossJoin(stats).groupBy("mu", "sd").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("_o", "_x"))),
            lambda e: e["_x"],
        ).alias("_xs"),
        F.array_sort(F.collect_list("_o")).alias("_os"),
    )
    # the recursion PROPAGATES the 9dp-rounded z (not the raw one):
    # per-step rounding quenches fold noise so both engines walk the
    # identical trajectory — propagating raw z while emitting rounded
    # z lets the two paths drift apart at round boundaries (the sf0.1
    # sweep caught exactly one 6dp boundary flip from that).
    fold = (
        "aggregate(_xs,"
        " named_struct('z', mu, 'out',"
        " cast(array() as array<double>)),"
        f" (acc, x) -> named_struct("
        f" 'z', round({lam} * x + (1 - {lam}) * acc.z, 9),"
        f" 'out', concat(acc.out, array(round({lam} * x"
        f" + (1 - {lam}) * acc.z, 9)))))"
    )
    folded = ser.withColumn("_st", F.expr(fold))
    rows = folded.select(
        "mu", "sd",
        F.posexplode(
            F.arrays_zip(
                F.col("_os").alias("os"),
                F.col("_st").getField("out").alias("zs"),
                F.col("_xs").alias("xs"),
            )
        ).alias("_i", "_r"),
    )
    t = (F.col("_i") + 1).cast("double")
    halfwidth = (
        F.lit(l_sigma) * F.col("sd")
        * F.sqrt(
            F.lit(lam / (2 - lam))
            * (1 - F.pow(F.lit((1 - lam) ** 2), t))
        )
    )
    return rows.select(
        F.col("_r.os").alias("bucket"),
        F.round(F.col("_r.xs"), 4).alias("x"),
        # zs is already the 9dp per-step value carried bit-identically
        # on both engines; re-rounding it to 6dp would reintroduce the
        # half-point ambiguity the per-step rounding exists to avoid
        F.col("_r.zs").alias("ewma"),
        F.round(F.col("mu") - halfwidth, 6).alias("lcl"),
        F.round(F.col("mu") + halfwidth, 6).alias("ucl"),
        (
            (F.col("_r.zs") > F.col("mu") + halfwidth)
            | (F.col("_r.zs") < F.col("mu") - halfwidth)
        ).alias("violation"),
    ).orderBy("bucket")


def hill_diversity(
    df: DataFrame,
    group_col: str,
    species_col: str,
) -> DataFrame:
    """Hill-number diversity profile per group: q=0 (richness), q=1
    (exp Shannon), q=2 (inverse Simpson) — the three 'effective
    species counts' on one scale, unifying the repo's separate
    entropy and Simpson entries.  Evenness = D1/D0.

    Two keyed aggregates, everything else in-row.
    """
    c = df.groupBy(
        F.col(group_col).alias("g"), F.col(species_col).alias("sp")
    ).agg(F.count(F.lit(1)).cast("double").alias("c"))
    tot = c.groupBy("g").agg(F.sum("c").alias("t"))
    p = c.join(tot, "g").select(
        "g", (F.col("c") / F.col("t")).alias("p"),
        F.col("t").alias("t"),
    )
    agg = p.groupBy("g").agg(
        F.max("t").cast("bigint").alias("n_obs"),
        F.count(F.lit(1)).cast("bigint").alias("d0_richness"),
        F.exp(
            -F.sum(F.col("p") * F.log("p"))
        ).alias("_d1"),
        (1 / F.sum(F.col("p") * F.col("p"))).alias("_d2"),
    )
    return agg.select(
        F.col("g").alias(group_col), "n_obs", "d0_richness",
        F.round("_d1", 6).alias("d1_exp_shannon"),
        F.round("_d2", 6).alias("d2_inv_simpson"),
        F.round(
            F.col("_d1") / F.col("d0_richness").cast("double"), 6
        ).alias("evenness"),
    ).orderBy(group_col)


def kneser_ney_bigram(
    df: DataFrame,
    text_col: str,
    discount: float = 0.75,
    top_k: int = 30,
) -> DataFrame:
    """Interpolated Kneser-Ney bigram probabilities (fixed discount):
    P(w|v) = max(c(vw)-d, 0)/c(v) + d*N1+(v.)/c(v) * Pcont(w), with
    the continuation probability Pcont(w) = N1+(.w)/N1+(..) — the
    smoothing that beats Good-Turing for LM scoring because it asks
    'how many contexts does w complete?' rather than 'how often does
    w occur?'.

    Everything is counting: bigram counts, per-context type counts,
    per-word continuation counts — three keyed aggregates and one
    join; emits the top_k bigrams by KN probability (ties by v, w).
    """
    words = df.select(
        F.split(F.trim(F.col(text_col)), " +").alias("ws")
    ).filter(F.size("ws") >= 2)
    bi = words.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("ws") - 1),
                lambda i: F.struct(
                    F.element_at("ws", i).alias("v"),
                    F.element_at("ws", i + 1).alias("w"),
                ),
            )
        ).alias("p")
    ).select("p.v", "p.w").groupBy("v", "w").agg(
        F.count(F.lit(1)).cast("double").alias("c_vw")
    )
    ctx = bi.groupBy("v").agg(
        F.sum("c_vw").alias("c_v"),
        F.count(F.lit(1)).cast("double").alias("n1p_v"),
    )
    cont = bi.groupBy("w").agg(
        F.count(F.lit(1)).cast("double").alias("n1p_w")
    )
    total_types = bi.agg(
        F.count(F.lit(1)).cast("double").alias("n1p_all")
    )
    d = discount
    j = (
        bi.join(ctx, "v").join(cont, "w").crossJoin(total_types)
    )
    p_kn = (
        F.greatest(F.col("c_vw") - d, F.lit(0.0)) / F.col("c_v")
        + d * F.col("n1p_v") / F.col("c_v")
        * (F.col("n1p_w") / F.col("n1p_all"))
    )
    r = Window.orderBy(
        F.desc("p_kn"), F.asc("v"), F.asc("w")
    )
    return j.select(
        "v", "w",
        F.col("c_vw").cast("bigint").alias("c_bigram"),
        F.round(p_kn, 6).alias("p_kn"),
    ).withColumn("p_kn_rank", F.row_number().over(
        Window.orderBy(F.desc("p_kn"), F.asc("v"), F.asc("w"))
    )).filter(F.col("p_kn_rank") <= top_k).drop("p_kn_rank")


def shard_rebalance_plan(
    df: DataFrame,
    shard_col: str,
    load_col,
) -> DataFrame:
    """Shard rebalance plan: the MINIMAL total data movement that
    equalizes load to the mean, expressed as concrete (from, to,
    amount) moves — the planner step after partition_balance_report
    says the layout is skewed.

    The classic prefix-matching construction: donors (load > mean)
    and receivers stacked as cumulative intervals; every overlap of
    a donor interval with a receiver interval is one move.  Two rank
    windows + one interval-overlap join whose output is at most
    donors + receivers - 1 rows (the standard minimal-moves bound).
    Amounts are cents-exact (bigint) so the plan sums exactly.
    """
    loads = df.groupBy(F.col(shard_col).alias("shard")).agg(
        F.sum(load_col.cast("long")).alias("load")
    )
    n = loads.agg(
        F.count(F.lit(1)).alias("n"), F.sum("load").alias("tot")
    )
    with_mean = loads.crossJoin(n).select(
        "shard", "load",
        F.floor(F.col("tot") / F.col("n")).alias("target"),
        (F.col("load") - F.floor(F.col("tot") / F.col("n")))
        .alias("delta"),
    )
    wd = Window.orderBy("shard").rowsBetween(
        Window.unboundedPreceding, 0
    )
    donors = with_mean.filter(F.col("delta") > 0).select(
        F.col("shard").alias("from_shard"),
        (F.sum("delta").over(wd) - F.col("delta")).alias("d_lo"),
        F.sum("delta").over(wd).alias("d_hi"),
    )
    receivers = with_mean.filter(F.col("delta") < 0).select(
        F.col("shard").alias("to_shard"),
        (F.sum(-F.col("delta")).over(wd) + F.col("delta"))
        .alias("r_lo"),
        F.sum(-F.col("delta")).over(wd).alias("r_hi"),
    )
    moves = donors.join(
        receivers,
        (F.col("d_lo") < F.col("r_hi")) & (F.col("r_lo") < F.col("d_hi")),
    ).select(
        "from_shard", "to_shard",
        (
            F.least("d_hi", "r_hi") - F.greatest("d_lo", "r_lo")
        ).cast("bigint").alias("amount"),
    ).filter(F.col("amount") > 0)
    return moves.orderBy("from_shard", "to_shard")


def bloom_size_advisor(
    df: DataFrame,
    group_col: str,
    key_col: str,
    target_fpp: float = 0.01,
) -> DataFrame:
    """Bloom-filter sizing advisor per key population: for each
    group's exact distinct-key count n, the optimal bit count
    m = ceil(-n ln p / ln2^2), hash count k = round(m/n ln2), and
    the predicted fpp (1 - e^{-kn/m})^k at those settings — the
    join-pruning capacity-planning companion to the repo's
    bloom_filter_probe.
    """
    import math

    n = df.groupBy(F.col(group_col).alias("g")).agg(
        F.countDistinct(key_col).cast("double").alias("n")
    )
    ln2 = math.log(2.0)
    lnp = math.log(target_fpp)
    m = F.ceil(-F.col("n") * lnp / (ln2 * ln2))
    k = F.round(m / F.col("n") * ln2)
    pred = F.pow(
        1 - F.exp(-k * F.col("n") / m), k
    )
    return n.select(
        F.col("g").alias(group_col),
        F.col("n").cast("bigint").alias("n_distinct_keys"),
        m.cast("bigint").alias("bits_m"),
        (F.ceil(m / 8192)).cast("bigint").alias("kib"),
        k.cast("bigint").alias("hashes_k"),
        F.round(pred, 6).alias("predicted_fpp"),
    ).orderBy(group_col)


def otsu_threshold(
    df: DataFrame,
    value_col,
) -> DataFrame:
    """Otsu's threshold on the cents histogram: the cut maximizing
    between-class variance w0*w1*(mu0-mu1)^2 — the two-population
    split without the EM machinery (the histogram-shape shortcut to
    what gmm_em_2comp fits parametrically).

    Candidate cuts are the distinct values; class stats at every cut
    come from two cumulative windows over the bounded grid; argmax
    via a rank-1 window with 9dp variance rounding (fold-noise
    guard).  Emits the threshold and both class profiles.
    """
    g = df.select(
        F.round(value_col.cast("double") * 100).cast("long").alias("v")
    ).groupBy("v").agg(F.count(F.lit(1)).cast("double").alias("c"))
    wle = Window.orderBy("v").rowsBetween(
        Window.unboundedPreceding, 0
    )
    tot = g.agg(
        F.sum("c").alias("n"),
        F.sum(F.col("c") * F.col("v")).alias("s"),
    )
    cum = g.select(
        "v",
        F.sum("c").over(wle).alias("n0"),
        F.sum(F.col("c") * F.col("v")).over(wle).alias("s0"),
    ).crossJoin(tot).filter(F.col("n0") < F.col("n"))
    w0 = F.col("n0") / F.col("n")
    w1 = 1 - w0
    mu0 = F.col("s0") / F.col("n0")
    mu1 = (F.col("s") - F.col("s0")) / (F.col("n") - F.col("n0"))
    between = F.round(w0 * w1 * (mu0 - mu1) * (mu0 - mu1), 9)
    r = Window.orderBy(F.desc("bv"), F.asc("v"))
    scored = cum.select(
        "v", between.alias("bv"),
        F.col("n0").alias("n0"),
        mu0.alias("mu0"), mu1.alias("mu1"),
        (F.col("n") - F.col("n0")).alias("n1"),
    )
    return scored.select(
        "*", F.row_number().over(r).alias("rk")
    ).filter(F.col("rk") == 1).select(
        (F.col("v") / 100.0).alias("otsu_threshold"),
        F.col("n0").cast("bigint").alias("n_below"),
        F.col("n1").cast("bigint").alias("n_above"),
        F.round(F.col("mu0") / 100, 6).alias("mean_below"),
        F.round(F.col("mu1") / 100, 6).alias("mean_above"),
        F.round(F.col("bv") / 10000, 6).alias("between_var"),
    )


def kde_modes(
    df: DataFrame,
    value_col,
    grid_points: int = 64,
) -> DataFrame:
    """Gaussian KDE on a bounded evaluation grid with Silverman's
    rule-of-thumb bandwidth, plus local-maximum mode detection — is
    the distribution unimodal or a mixture?  (The nonparametric
    companion to gmm_em/otsu.)

    Density at each of ``grid_points`` evaluation points is one
    grid-x-distinct-value join (both sides bounded: the cents grid
    and the literal evaluation grid) — never a pass over raw rows
    per point.  Modes via two lag windows on the density curve.
    """
    g = df.select(
        F.round(value_col.cast("double") * 100).cast("long").alias("v")
    ).groupBy("v").agg(F.count(F.lit(1)).cast("double").alias("c"))
    stats = g.agg(
        F.sum("c").alias("n"),
        (F.sum(F.col("c") * F.col("v")) / F.sum("c")).alias("mu"),
        F.min("v").alias("lo"), F.max("v").alias("hi"),
        F.sum(F.col("c") * F.col("v") * F.col("v")).alias("svv"),
    ).select(
        "n", "lo", "hi",
        F.sqrt(
            F.col("svv") / F.col("n") - F.col("mu") * F.col("mu")
        ).alias("sd"),
    ).select(
        "n", "lo", "hi", "sd",
        # Silverman: h = 1.06 sigma n^(-1/5)
        (1.06 * F.col("sd") * F.pow(F.col("n"), -0.2)).alias("h"),
    )
    spark = df.sparkSession
    pts = spark.range(grid_points).select(
        F.col("id").cast("double").alias("i")
    )
    # pad the evaluation range by 2h so boundary clusters become
    # interior local maxima (the endpoint rows can never pass the
    # lag/lead mode filter)
    grid = pts.crossJoin(stats).select(
        (
            F.col("lo") - 2 * F.col("h")
            + F.col("i")
            * (F.col("hi") - F.col("lo") + 4 * F.col("h"))
            / (grid_points - 1)
        ).alias("x"),
        "h", "n",
    )
    dens = grid.join(g, F.lit(True)).groupBy("x", "h", "n").agg(
        F.sum(
            F.col("c")
            * F.exp(
                -0.5 * F.pow((F.col("x") - F.col("v")) / F.col("h"), 2)
            )
        ).alias("ksum")
    ).select(
        "x",
        F.round(
            F.col("ksum")
            / (F.col("n") * F.col("h") * 2.5066282746310002),
            9,
        ).alias("dens"),
    )
    wo = Window.orderBy("x")
    curve = dens.select(
        "x", "dens",
        F.lag("dens").over(wo).alias("dp"),
        F.lead("dens").over(wo).alias("dn"),
    )
    modes = curve.filter(
        F.col("dp").isNotNull() & F.col("dn").isNotNull()
        & (F.col("dens") > F.col("dp")) & (F.col("dens") >= F.col("dn"))
    )
    return modes.select(
        F.round(F.col("x") / 100, 6).alias("mode_value"),
        F.round(F.col("dens") * 100, 9).alias("density"),
    ).orderBy("mode_value")


def rank_aggregation(
    df: DataFrame,
    judge_col: str,
    object_col: str,
    score_col,
) -> DataFrame:
    """Borda + Copeland rank aggregation across judges: Borda points
    = k - rank summed over judges; Copeland score = pairwise
    majority wins - losses (the Condorcet-consistent check on the
    Borda order).  Complete-block zero-fill like Kendall's W.

    Ranks via per-judge windows on the bounded grid; the pairwise
    Copeland tally is an object x object join restricted to the
    bounded (judge x object) table.
    """
    cells = df.groupBy(
        F.col(judge_col).alias("judge"), F.col(object_col).alias("obj")
    ).agg(F.sum(score_col.cast("double")).alias("s"))
    full = (
        cells.select("judge").distinct()
        .crossJoin(cells.select("obj").distinct())
        .join(cells, ["judge", "obj"], "left")
        .select("judge", "obj", F.coalesce("s", F.lit(0.0)).alias("s"))
    )
    wr = Window.partitionBy("judge").orderBy(F.desc("s"), F.asc("obj"))
    ranked = full.select(
        "judge", "obj", F.row_number().over(wr).alias("rk")
    )
    k = ranked.agg(F.max("rk")).collect()[0][0]
    borda = ranked.groupBy("obj").agg(
        F.sum(F.lit(k) - F.col("rk")).cast("long").alias("borda")
    )
    a = ranked.select("judge", F.col("obj").alias("o1"),
                      F.col("rk").alias("r1"))
    b = ranked.select("judge", F.col("obj").alias("o2"),
                      F.col("rk").alias("r2"))
    duels = a.join(b, "judge").filter(F.col("o1") != F.col("o2"))
    wins = duels.groupBy("o1", "o2").agg(
        F.sum((F.col("r1") < F.col("r2")).cast("long")).alias("w"),
        F.count(F.lit(1)).alias("m"),
    )
    cope = wins.select(
        F.col("o1").alias("obj"),
        F.when(F.col("w") * 2 > F.col("m"), 1)
        .when(F.col("w") * 2 < F.col("m"), -1)
        .otherwise(0).alias("pt"),
    ).groupBy("obj").agg(F.sum("pt").cast("long").alias("copeland"))
    out = borda.join(cope, "obj")
    wfin = Window.orderBy(
        F.desc("borda"), F.desc("copeland"), F.asc("obj")
    )
    return out.select(
        "obj", "borda", "copeland",
        F.row_number().over(wfin).cast("int").alias("final_rank"),
    ).orderBy("final_rank")


MARKOV_POWER_ITERS = 20


def markov_stationary(
    df: DataFrame,
    user_col: str,
    state_col: str,
    ts_col: str,
    order2_col: str,
    iters: int = MARKOV_POWER_ITERS,
) -> DataFrame:
    """Stationary distribution of the empirical state-transition
    chain by fixed-schedule power iteration (pi' = pi P, 9dp
    rounding per step — the EM/Platt contract), compared against the
    plain occurrence distribution: a gap means the chain hasn't
    mixed, i.e. where users ARE is not where the dynamics would
    keep them.

    The transition matrix is |S|^2-bounded; each iteration is one
    keyed join + aggregate over it.  Emits per state: stationary pi,
    empirical share, and the difference.
    """
    w = Window.partitionBy(user_col).orderBy(ts_col, order2_col)
    tr = df.select(
        F.col(state_col).alias("dst"),
        F.lag(state_col).over(w).alias("src"),
    ).filter(F.col("src").isNotNull())
    p = tr.groupBy("src", "dst").agg(
        F.count(F.lit(1)).cast("double").alias("c")
    )
    row_tot = p.groupBy("src").agg(F.sum("c").alias("t"))
    pm = p.join(row_tot, "src").select(
        "src", "dst", (F.col("c") / F.col("t")).alias("p")
    ).localCheckpoint(eager=True)
    states = pm.select(F.col("src").alias("s")).distinct()
    n_states = states.count()
    pi = states.select(
        "s", F.lit(1.0 / n_states).alias("pi")
    ).localCheckpoint(eager=True)
    for _ in range(iters):
        nxt = (
            pm.join(pi, pm.src == pi.s)
            .groupBy(F.col("dst").alias("s"))
            .agg(F.round(F.sum(F.col("p") * F.col("pi")), 9).alias("pi"))
        )
        pi = states.join(nxt, "s", "left").select(
            "s", F.coalesce("pi", F.lit(0.0)).alias("pi")
        ).localCheckpoint(eager=True)
    emp = df.groupBy(F.col(state_col).alias("s")).agg(
        F.count(F.lit(1)).cast("double").alias("c")
    )
    emp_tot = emp.agg(F.sum("c").alias("t"))
    emp_share = emp.crossJoin(emp_tot).select(
        "s", (F.col("c") / F.col("t")).alias("emp")
    )
    return pi.join(emp_share, "s").select(
        F.col("s").alias("state"),
        F.round("pi", 6).alias("stationary_pi"),
        F.round("emp", 6).alias("empirical_share"),
        F.round(F.col("pi") - F.col("emp"), 6).alias("gap"),
    ).orderBy("state")


def getis_ord_hotspots(
    df: DataFrame,
    row_col: str,
    col_col: str,
    value_col,
    n_rows: int,
    n_cols: int,
    z_crit: float = 1.96,
) -> DataFrame:
    """Getis-Ord Gi* hot/cold-spot detection on a bounded grid (rook
    + center neighborhood): z-score of each cell's local sum against
    the global field — WHERE the load clusters, the local complement
    to the repo's global Moran's I.

    Neighborhood sums via a self-join of the bounded grid on |di| +
    |dj| <= 1; Gi* uses the standard mean/variance normalization
    with neighborhood size W.  Emits significant cells only.
    """
    g = df.groupBy(
        F.col(row_col).cast("int").alias("i"),
        F.col(col_col).cast("int").alias("j"),
    ).agg(F.sum(value_col.cast("double")).alias("x"))
    stats = g.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.avg("x").alias("xbar"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    ).select(
        "n", "xbar",
        F.sqrt(
            F.col("sxx") / F.col("n") - F.col("xbar") * F.col("xbar")
        ).alias("s"),
    )
    nb = g.select(
        F.col("i").alias("ni"), F.col("j").alias("nj"),
        F.col("x").alias("nx"),
    )
    local = g.join(
        nb,
        (F.abs(F.col("i") - F.col("ni"))
         + F.abs(F.col("j") - F.col("nj"))) <= 1,
    ).groupBy("i", "j").agg(
        F.sum("nx").alias("lsum"),
        F.count(F.lit(1)).cast("double").alias("w"),
    )
    z = local.crossJoin(stats).select(
        "i", "j", "lsum", "w",
        (
            (F.col("lsum") - F.col("xbar") * F.col("w"))
            / (
                F.col("s")
                * F.sqrt(
                    (F.col("n") * F.col("w") - F.col("w") * F.col("w"))
                    / (F.col("n") - 1)
                )
            )
        ).alias("gi"),
    )
    return z.filter(F.abs(F.col("gi")) > z_crit).select(
        F.col("i").alias(row_col),
        F.col("j").alias(col_col),
        F.round("lsum", 2).alias("local_sum"),
        F.col("w").cast("bigint").alias("neighborhood"),
        F.round("gi", 6).alias("gi_star_z"),
        F.when(F.col("gi") > 0, F.lit("hot")).otherwise(F.lit("cold"))
        .alias("spot"),
    ).orderBy(row_col, col_col)


def anderson_darling_uniform(
    df: DataFrame,
    u_col,
) -> DataFrame:
    """Anderson-Darling test of uniformity on [0,1) — the
    tail-sensitive upgrade over the repo's KS test (AD weights the
    tails by 1/(F(1-F))): A^2 = -n - (1/n) sum_i [(2i-1) ln u_(i) +
    (2(n-i)+1) ln(1-u_(i))].

    The scale move: ranks never touch raw rows.  Ties collapse onto
    the bounded distinct-value grid; within a tie block of count c
    starting after C rows, sum(2i-1) = c(2C+c) and
    sum(2(n-i)+1) = c(2(n-C)-c) in closed form, so one grid window
    and one reduction produce the exact statistic.  Values are
    clamped away from {0,1} by eps so logs stay finite.  Flagged at
    the asymptotic 5% point 2.492.
    """
    eps = 1e-10
    g = df.select(
        F.least(
            F.greatest(u_col.cast("double"), F.lit(eps)),
            F.lit(1 - eps),
        ).alias("u")
    ).groupBy("u").agg(F.count(F.lit(1)).cast("double").alias("c"))
    wlt = Window.orderBy("u").rowsBetween(
        Window.unboundedPreceding, -1
    )
    cum = g.select(
        "u", "c",
        F.coalesce(F.sum("c").over(wlt), F.lit(0.0)).alias("cc"),
    )
    tot = g.agg(F.sum("c").alias("n"))
    t = cum.crossJoin(tot)
    term = (
        F.col("c") * (2 * F.col("cc") + F.col("c")) * F.log("u")
        + F.col("c")
        * (2 * (F.col("n") - F.col("cc")) - F.col("c"))
        * F.log(1 - F.col("u"))
    )
    a = t.agg(
        F.max("n").alias("n"), F.sum(term).alias("s")
    )
    a2 = -F.col("n") - F.col("s") / F.col("n")
    return a.select(
        F.col("n").cast("bigint").alias("n_obs"),
        F.round(a2, 6).alias("a_squared"),
        (a2 > 2.492).alias("nonuniform_5pct"),
    )


def kupiec_var_backtest(
    df: DataFrame,
    breach_col,
    confidence: float = 0.99,
) -> DataFrame:
    """Kupiec proportion-of-failures backtest: does the breach
    frequency of a (1-confidence) limit match its nominal rate?
    LR_pof = -2 ln[ (1-p)^{n-x} p^x / ((1-x/n)^{n-x} (x/n)^x) ],
    chi-square(1) — the SLO-threshold honesty check (a p99 limit
    breached 5% of the time is lying about being a p99).

    One aggregate; the log-likelihood ratio in closed form with
    0*ln0 guards.  Flag at 3.841.
    """
    p = 1.0 - confidence
    a = df.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(breach_col.cast("double")).alias("x"),
    )
    n, x = F.col("n"), F.col("x")
    phat = x / n
    lnl0 = (n - x) * F.log(F.lit(1 - p)) + x * F.log(F.lit(p))
    lnl1 = (
        F.when(n - x > 0, (n - x) * F.log(1 - phat)).otherwise(0.0)
        + F.when(x > 0, x * F.log(phat)).otherwise(0.0)
    )
    lr = -2 * (lnl0 - lnl1)
    return a.select(
        n.cast("bigint").alias("n_obs"),
        x.cast("bigint").alias("n_breaches"),
        F.round(phat, 6).alias("observed_rate"),
        F.round(F.lit(p), 6).alias("nominal_rate"),
        F.round(lr, 6).alias("lr_pof"),
        (lr > 3.841).alias("miscalibrated_95"),
    )


def max_drawdown(
    df: DataFrame,
    order_col: str,
    value_col: str,
) -> DataFrame:
    """Maximum drawdown of a cumulative series: the worst
    peak-to-trough fall, plus where it happened — the burn-down
    robustness number for error budgets and capacity headroom (how
    deep did the hole get, and how long to dig out).

    Running peak via one cumulative-max window; drawdown in-row; the
    argmax trough via a rank-1 window; recovery = first later point
    reaching the old peak (min filtered over a join against the
    1-row argmax).
    """
    w = Window.orderBy(order_col).rowsBetween(
        Window.unboundedPreceding, 0
    )
    s = df.select(
        F.col(order_col).alias("o"),
        F.col(value_col).cast("double").alias("x"),
    ).select(
        "o", "x", F.max("x").over(w).alias("peak")
    ).select(
        "o", "x", "peak",
        F.round(F.col("peak") - F.col("x"), 9).alias("dd"),
    ).localCheckpoint(eager=True)
    r = Window.orderBy(F.desc("dd"), F.asc("o"))
    worst = s.select(
        "*", F.row_number().over(r).alias("rk")
    ).filter(F.col("rk") == 1).select(
        F.col("o").alias("trough_o"), F.col("x").alias("trough_x"),
        F.col("peak").alias("peak_x"), F.col("dd").alias("mdd"),
    )
    rec = s.crossJoin(worst).filter(
        (F.col("o") > F.col("trough_o"))
        & (F.col("x") >= F.col("peak_x"))
    ).agg(F.min("o").alias("recovery_o"))
    return worst.crossJoin(rec).select(
        F.round("mdd", 6).alias("max_drawdown"),
        F.round("peak_x", 6).alias("peak_value"),
        F.round("trough_x", 6).alias("trough_value"),
        "trough_o",
        "recovery_o",
        F.round(
            F.when(
                F.col("peak_x") != 0,
                F.col("mdd") / F.col("peak_x"),
            ),
            6,
        ).alias("drawdown_frac"),
    )


def leaky_bucket_replay(
    df: DataFrame,
    order_col: str,
    arrivals_col: str,
    drain_rate: float,
    capacity: float,
) -> DataFrame:
    """Leaky-bucket traffic-shaping replay: per step, level =
    min(capacity, max(0, level + arrivals - drain)); overflow =
    arrivals that found the bucket full — the smoothing twin of the
    repo's token_bucket_audit (which gates, where this QUEUES).

    Sequential -> per-series in-row fold over the bounded rollup
    series; emits the level/overflow trajectory and the total
    shaped-vs-dropped split.
    """
    base = df.select(
        F.col(order_col).cast("long").alias("_o"),
        F.col(arrivals_col).cast("double").alias("_a"),
    )
    ser = base.groupBy().agg(
        F.array_sort(F.collect_list(F.struct("_o", "_a"))).alias("_z")
    )
    d, cap = float(drain_rate), float(capacity)
    fold = (
        "aggregate(_z,"
        " named_struct('lvl', cast(0.0 as double),"
        " 'levels', cast(array() as array<double>),"
        " 'drops', cast(array() as array<double>)),"
        " (acc, e) -> named_struct("
        f" 'lvl', least({cap}, greatest(0.0, acc.lvl + e._a - {d})),"
        f" 'levels', concat(acc.levels, array(round(least({cap},"
        f" greatest(0.0, acc.lvl + e._a - {d})), 6))),"
        f" 'drops', concat(acc.drops, array(round(greatest(0.0,"
        f" acc.lvl + e._a - {d} - {cap}), 6)))))"
    )
    folded = ser.withColumn("_st", F.expr(fold))
    return folded.select(
        F.posexplode(
            F.arrays_zip(
                F.col("_z").getField("_o").alias("os"),
                F.col("_z").getField("_a").alias("ar"),
                F.col("_st").getField("levels").alias("lv"),
                F.col("_st").getField("drops").alias("dr"),
            )
        ).alias("_i", "_r")
    ).select(
        F.col("_r.os").alias("bucket"),
        F.round(F.col("_r.ar"), 4).alias("arrivals"),
        F.col("_r.lv").alias("level"),
        F.col("_r.dr").alias("overflow"),
    ).orderBy("bucket")


def graph_reciprocity(
    edges: DataFrame,
) -> DataFrame:
    """Directed-graph reciprocity: the share of edges whose reverse
    edge also exists, plus the Garlaschelli-Loffredo rho that
    corrects for density (rho > 0: mutual links beyond chance) —
    does the service call graph contain true request/response pairs
    or one-way pipelines?

    One self-join on the reversed key + two aggregates; the density
    correction needs only node and edge counts.
    """
    e = edges.select("src", "dst").filter(
        F.col("src") != F.col("dst")
    ).distinct().localCheckpoint(eager=True)
    rev = e.select(
        F.col("dst").alias("src"), F.col("src").alias("dst")
    )
    mut = e.join(rev, ["src", "dst"], "left_semi").agg(
        F.count(F.lit(1)).cast("double").alias("mutual")
    )
    m = e.agg(F.count(F.lit(1)).cast("double").alias("m"))
    nn = (
        e.select(F.col("src").alias("n"))
        .union(e.select(F.col("dst").alias("n")))
        .distinct()
        .agg(F.count(F.lit(1)).cast("double").alias("nodes"))
    )
    j = mut.crossJoin(m).crossJoin(nn)
    r = F.col("mutual") / F.col("m")
    abar = F.col("m") / (F.col("nodes") * (F.col("nodes") - 1))
    # complete graph: density 1 makes the correction degenerate;
    # reciprocity is trivially 1 there
    rho = F.when(abar < 1, (r - abar) / (1 - abar)).otherwise(
        F.lit(1.0)
    )
    return j.select(
        F.col("nodes").cast("bigint").alias("n_nodes"),
        F.col("m").cast("bigint").alias("n_edges"),
        F.col("mutual").cast("bigint").alias("n_mutual"),
        F.round(r, 6).alias("reciprocity"),
        F.round(abar, 6).alias("density"),
        F.round(rho, 6).alias("rho_gl"),
    )


def auc_hanley_ci(
    df: DataFrame,
    score_col,
    label_col,
    z: float = 1.96,
) -> DataFrame:
    """ROC AUC with the Hanley-McNeil standard error and a 95%
    interval: SE^2 = [A(1-A) + (n+ - 1)(Q1 - A^2) + (n- - 1)(Q2 -
    A^2)] / (n+ n-), Q1 = A/(2-A), Q2 = 2A^2/(1+A) — the error bar
    the bare roc_auc_rank entry leaves out, from the SAME bounded
    cents-grid midrank machinery.
    """
    a, auc = _midrank_auc(df, score_col, label_col)
    q1 = auc / (2 - auc)
    q2 = 2 * auc * auc / (1 + auc)
    se = F.sqrt(
        (
            auc * (1 - auc)
            + (F.col("npos") - 1) * (q1 - auc * auc)
            + (F.col("nneg") - 1) * (q2 - auc * auc)
        )
        / (F.col("npos") * F.col("nneg"))
    )
    return a.select(
        F.col("npos").cast("bigint").alias("n_pos"),
        F.col("nneg").cast("bigint").alias("n_neg"),
        F.round(auc, 6).alias("auc"),
        F.round(se, 6).alias("se_hanley"),
        F.round(F.greatest(auc - z * se, F.lit(0.0)), 6).alias("ci_lo"),
        F.round(F.least(auc + z * se, F.lit(1.0)), 6).alias("ci_hi"),
        ((auc - z * se > 0.5) | (auc + z * se < 0.5)).alias(
            "differs_from_chance_95"
        ),
    )


def ratio_metric_ci(
    df: DataFrame,
    unit_col: str,
    num_col,
    den_col,
    z: float = 1.96,
) -> DataFrame:
    """Delta-method confidence interval for a RATIO metric (sum of
    numerator over sum of denominator across units — revenue per
    session, errors per call): Var(X/Y) ~ (1/muY^2)[varX - 2R covXY
    + R^2 varY] / n — the experimentation-grade error bar naive
    per-row averaging gets wrong (units, not rows, are independent).

    One per-unit aggregate, one moment reduction; everything closed
    form.
    """
    per = df.groupBy(F.col(unit_col).alias("u")).agg(
        F.sum(num_col.cast("double")).alias("x"),
        F.sum(den_col.cast("double")).alias("y"),
    )
    m = per.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.avg("x").alias("mx"), F.avg("y").alias("my"),
        F.avg(F.col("x") * F.col("x")).alias("mxx"),
        F.avg(F.col("y") * F.col("y")).alias("myy"),
        F.avg(F.col("x") * F.col("y")).alias("mxy"),
    )
    r = F.col("mx") / F.col("my")
    vx = F.col("mxx") - F.col("mx") * F.col("mx")
    vy = F.col("myy") - F.col("my") * F.col("my")
    cxy = F.col("mxy") - F.col("mx") * F.col("my")
    se = F.sqrt(
        (vx - 2 * r * cxy + r * r * vy)
        / (F.col("my") * F.col("my") * F.col("n"))
    )
    return m.select(
        F.col("n").cast("bigint").alias("n_units"),
        F.round(r, 6).alias("ratio"),
        F.round(se, 6).alias("se_delta"),
        F.round(r - z * se, 6).alias("ci_lo"),
        F.round(r + z * se, 6).alias("ci_hi"),
    )


def relative_risk_ci(
    df: DataFrame,
    exposed_col,
    outcome_col,
    z: float = 1.96,
) -> DataFrame:
    """Relative risk and odds ratio for a 2x2 exposure/outcome table
    with Katz log-scale confidence intervals: ln RR +/- z*sqrt(1/a -
    1/(a+b) + 1/c - 1/(c+d)), ln OR +/- z*sqrt(1/a+1/b+1/c+1/d) —
    the epidemiology pair behind 'does the canary double the error
    risk', with multiplicative error bars.
    """
    t = df.agg(
        F.sum(
            (exposed_col.cast("int") * outcome_col.cast("int"))
            .cast("double")
        ).alias("a"),
        F.sum(
            (exposed_col.cast("int") * (1 - outcome_col.cast("int")))
            .cast("double")
        ).alias("b"),
        F.sum(
            ((1 - exposed_col.cast("int")) * outcome_col.cast("int"))
            .cast("double")
        ).alias("c"),
        F.sum(
            ((1 - exposed_col.cast("int"))
             * (1 - outcome_col.cast("int"))).cast("double")
        ).alias("d"),
    )
    a, b, c, d = F.col("a"), F.col("b"), F.col("c"), F.col("d")
    rr = (a / (a + b)) / (c / (c + d))
    se_rr = F.sqrt(1 / a - 1 / (a + b) + 1 / c - 1 / (c + d))
    orr = (a * d) / (b * c)
    se_or = F.sqrt(1 / a + 1 / b + 1 / c + 1 / d)
    return t.select(
        a.cast("bigint").alias("exposed_cases"),
        b.cast("bigint").alias("exposed_ok"),
        c.cast("bigint").alias("control_cases"),
        d.cast("bigint").alias("control_ok"),
        F.round(rr, 6).alias("relative_risk"),
        F.round(F.exp(F.log(rr) - z * se_rr), 6).alias("rr_ci_lo"),
        F.round(F.exp(F.log(rr) + z * se_rr), 6).alias("rr_ci_hi"),
        F.round(orr, 6).alias("odds_ratio"),
        F.round(F.exp(F.log(orr) - z * se_or), 6).alias("or_ci_lo"),
        F.round(F.exp(F.log(orr) + z * se_or), 6).alias("or_ci_hi"),
    )


def fisher_price_index(
    df: DataFrame,
    period_col,
    item_col: str,
    price_col,
    qty_col,
) -> DataFrame:
    """Laspeyres / Paasche / Fisher price indices between period 0
    and period 1 over an item basket: base-weighted vs current-
    weighted cost drift and their geometric compromise — unit-cost
    inflation for capacity baskets (per event type: price = mean
    value, quantity = volume).

    Two keyed aggregates to the bounded (period x item) table, one
    self-join on item, one reduction.
    """
    cell = df.groupBy(
        period_col.cast("int").alias("per"),
        F.col(item_col).alias("item"),
    ).agg(
        F.avg(price_col.cast("double")).alias("p"),
        F.sum(qty_col.cast("double")).alias("q"),
    )
    p0 = cell.filter(F.col("per") == 0).select(
        "item", F.col("p").alias("p0"), F.col("q").alias("q0")
    )
    p1 = cell.filter(F.col("per") == 1).select(
        "item", F.col("p").alias("p1"), F.col("q").alias("q1")
    )
    j = p0.join(p1, "item")
    agg = j.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_items"),
        F.sum(F.col("p1") * F.col("q0")).alias("s10"),
        F.sum(F.col("p0") * F.col("q0")).alias("s00"),
        F.sum(F.col("p1") * F.col("q1")).alias("s11"),
        F.sum(F.col("p0") * F.col("q1")).alias("s01"),
    )
    lasp = F.col("s10") / F.col("s00")
    paas = F.col("s11") / F.col("s01")
    return agg.select(
        "n_items",
        F.round(lasp, 6).alias("laspeyres"),
        F.round(paas, 6).alias("paasche"),
        F.round(F.sqrt(lasp * paas), 6).alias("fisher"),
    )


def circular_stats(
    df: DataFrame,
    angle_col,
) -> DataFrame:
    """Circular statistics of an angular variable (time-of-day IS an
    angle — 23:59 and 00:01 are neighbors, which linear means get
    completely wrong): mean direction via atan2 of the sin/cos
    resultant, concentration R-bar, circular variance 1 - R-bar, and
    the Rayleigh test z = n*R-bar^2 for uniformity-around-the-clock.

    One aggregate of sin/cos sums; everything else in-row.  The
    angle is radians in [0, 2pi).
    """
    a = df.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.avg(F.sin(angle_col.cast("double"))).alias("ms"),
        F.avg(F.cos(angle_col.cast("double"))).alias("mc"),
    )
    rbar = F.sqrt(F.col("ms") * F.col("ms") + F.col("mc") * F.col("mc"))
    mean_dir = F.atan2(F.col("ms"), F.col("mc"))
    # wrap to [0, 2pi)
    two_pi = 6.283185307179586
    mean_pos = F.when(mean_dir < 0, mean_dir + two_pi).otherwise(
        mean_dir
    )
    z = F.col("n") * rbar * rbar
    return a.select(
        F.col("n").cast("bigint").alias("n_obs"),
        F.round(mean_pos, 6).alias("mean_direction_rad"),
        F.round(mean_pos / two_pi * 24, 4).alias("mean_hour"),
        F.round(rbar, 6).alias("resultant_rbar"),
        F.round(1 - rbar, 6).alias("circular_variance"),
        F.round(z, 6).alias("rayleigh_z"),
        (z > 2.996).alias("nonuniform_95"),  # -ln(0.05)
    )


def runlength_geometric_fit(
    df: DataFrame,
    order_col: str,
    flag_col,
) -> DataFrame:
    """Run-length analysis of a binary flag stream: observed run
    lengths of consecutive flagged points (gaps-and-islands), the
    MoM geometric fit p = 1/mean-run, and the observed-vs-geometric
    length histogram — do error bursts terminate memorylessly, or do
    long bursts self-perpetuate (the retry-storm signature)?

    One lag window for run boundaries, two keyed aggregates; the
    comparison grid is bounded by the longest run.
    """
    w = Window.orderBy(order_col)
    s = df.select(
        F.col(order_col).alias("o"),
        flag_col.cast("int").alias("f"),
    ).select(
        "o", "f",
        F.when(
            (F.lag("f").over(w).isNull())
            | (F.lag("f").over(w) != F.col("f")),
            1,
        ).otherwise(0).alias("brk"),
    ).select(
        "o", "f",
        F.sum("brk").over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ).alias("run_id"),
    )
    runs = s.filter(F.col("f") == 1).groupBy("run_id").agg(
        F.count(F.lit(1)).cast("double").alias("len")
    )
    m = runs.agg(
        F.count(F.lit(1)).cast("double").alias("n_runs"),
        F.avg("len").alias("mean_len"),
        F.max("len").cast("bigint").alias("max_len"),
    )
    hist = runs.groupBy("len").agg(
        F.count(F.lit(1)).cast("double").alias("obs")
    )
    jh = hist.crossJoin(m)
    p = 1 / F.col("mean_len")
    expected = F.col("n_runs") * F.pow(1 - p, F.col("len") - 1) * p
    return jh.select(
        F.col("len").cast("bigint").alias("run_length"),
        F.col("obs").cast("bigint").alias("observed_runs"),
        F.round(expected, 4).alias("geometric_expected"),
        F.round(p, 6).alias("p_terminate"),
        F.col("n_runs").cast("bigint").alias("n_runs"),
        "max_len",
    ).orderBy("run_length")


def person_time_incidence(
    df: DataFrame,
    unit_col: str,
    ts_col: str,
    case_col,
) -> DataFrame:
    """Person-time incidence rate: cases per unit-hour AT RISK — the
    exposure-honest rate (raw per-user counts conflate heavy users
    with risky users; dividing by each unit's observed span does
    not).  Per unit: span hours (first to last event) and case
    count; pooled rate = total cases / total exposure, with the
    Poisson-exact-ish Byar CI on the log scale.

    Two aggregates; units observed for < 1 full hour contribute
    their fractional exposure.
    """
    per = df.groupBy(F.col(unit_col).alias("u")).agg(
        (
            (
                F.max(F.unix_timestamp(ts_col))
                - F.min(F.unix_timestamp(ts_col))
            ).cast("double") / 3600.0
        ).alias("hours"),
        F.sum(case_col.cast("double")).alias("cases"),
    ).filter(F.col("hours") > 0)
    a = per.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_units"),
        F.sum("hours").alias("pt"),
        F.sum("cases").alias("x"),
    )
    rate = F.col("x") / F.col("pt")
    se_ln = 1 / F.sqrt(F.col("x"))
    return a.select(
        "n_units",
        F.round("pt", 2).alias("person_hours"),
        F.col("x").cast("bigint").alias("n_cases"),
        F.round(rate * 1000, 6).alias("rate_per_1k_hours"),
        F.round(F.exp(F.log(rate) - 1.96 * se_ln) * 1000, 6)
        .alias("ci_lo_per_1k"),
        F.round(F.exp(F.log(rate) + 1.96 * se_ln) * 1000, 6)
        .alias("ci_hi_per_1k"),
    )


def bass_diffusion(
    df: DataFrame,
    period_col: str,
    adopters_col: str,
) -> DataFrame:
    """Bass diffusion fit from the discrete regression n_t = a +
    b*N_{t-1} + c*N_{t-1}^2 (a = pm, b = q-p, c = -q/m): innovation
    p, imitation q, market size m, and the predicted adoption peak
    t* = ln(q/p)/(p+q) — is growth ad-driven or word-of-mouth, and
    when does it crest?

    One cumulative window for N, one power-sum pass, the 3x3 normal
    equations by Cramer in-row (the usl_fit pattern), and the
    quadratic root for m.
    """
    w = Window.orderBy(period_col)
    base = df.select(
        F.col(adopters_col).cast("double").alias("y"),
        F.coalesce(
            F.sum(F.col(adopters_col).cast("double")).over(
                w.rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0.0),
        ).alias("u"),
    ).select("y", "u", (F.col("u") * F.col("u")).alias("v"))
    a = base.agg(
        F.count(F.lit(1)).cast("double").alias("m0"),
        F.sum("u").alias("su"), F.sum("v").alias("sv"),
        F.sum("y").alias("sy"),
        F.sum(F.col("u") * F.col("u")).alias("suu"),
        F.sum(F.col("u") * F.col("v")).alias("suv"),
        F.sum(F.col("v") * F.col("v")).alias("svv"),
        F.sum(F.col("u") * F.col("y")).alias("suy"),
        F.sum(F.col("v") * F.col("y")).alias("svy"),
    )
    m0, su, sv = F.col("m0"), F.col("su"), F.col("sv")
    suu, suv, svv = F.col("suu"), F.col("suv"), F.col("svv")
    sy, suy, svy = F.col("sy"), F.col("suy"), F.col("svy")

    def det3(r1, r2, r3):
        return (
            r1[0] * (r2[1] * r3[2] - r2[2] * r3[1])
            - r1[1] * (r2[0] * r3[2] - r2[2] * r3[0])
            + r1[2] * (r2[0] * r3[1] - r2[1] * r3[0])
        )

    A = [[m0, su, sv], [su, suu, suv], [sv, suv, svv]]
    bb = [sy, suy, svy]
    d = det3(*A)
    coef = []
    for k in range(3):
        Ak = [
            [bb[i] if j == k else A[i][j] for j in range(3)]
            for i in range(3)
        ]
        coef.append(det3(*Ak) / d)
    ca, cb, cc = coef
    disc = F.sqrt(F.greatest(cb * cb - 4 * ca * cc, F.lit(0.0)))
    m_hat = (-cb - disc) / (2 * cc)
    p_hat = ca / m_hat
    q_hat = -cc * m_hat
    t_peak = F.when(
        (p_hat > 0) & (q_hat > 0),
        F.log(q_hat / p_hat) / (p_hat + q_hat),
    )
    return a.select(
        F.col("m0").cast("bigint").alias("n_periods"),
        F.round(ca, 6).alias("coef_a"),
        F.round(cb, 6).alias("coef_b"),
        F.round(cc, 9).alias("coef_c"),
        F.round(m_hat, 2).alias("market_size_m"),
        F.round(p_hat, 6).alias("innovation_p"),
        F.round(q_hat, 6).alias("imitation_q"),
        F.round(t_peak, 4).alias("peak_period"),
    )


def seasonal_mann_kendall(
    df: DataFrame,
    season_col: str,
    order_col: str,
    value_col: str,
) -> DataFrame:
    """Seasonal Mann-Kendall trend test: the MK S statistic computed
    WITHIN each season (same hour across days) and summed — a daily
    cycle cannot masquerade as a trend, which plain MK falls for.
    Tie-corrected variance per season, continuity-corrected z.

    Pairwise S per season is a within-season self-join on the
    bounded rollup grid (the repo's documented contract); everything
    downstream is a reduction.
    """
    s = df.select(
        F.col(season_col).alias("g"),
        F.col(order_col).alias("o"),
        F.col(value_col).cast("double").alias("x"),
    )
    a = s.select("g", F.col("o").alias("oi"), F.col("x").alias("xi"))
    b = s.select("g", F.col("o").alias("oj"), F.col("x").alias("xj"))
    pairs = a.join(b, "g").filter(F.col("oi") < F.col("oj"))
    s_stat = pairs.agg(
        F.sum(F.signum(F.col("xj") - F.col("xi"))).alias("s")
    )
    n_per = s.groupBy("g").agg(
        F.count(F.lit(1)).cast("double").alias("n")
    )
    ties = s.groupBy("g", "x").agg(
        F.count(F.lit(1)).cast("double").alias("t")
    ).groupBy("g").agg(
        F.sum(
            F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)
        ).alias("tc")
    )
    var = n_per.join(ties, "g").agg(
        F.sum(
            (
                F.col("n") * (F.col("n") - 1) * (2 * F.col("n") + 5)
                - F.col("tc")
            ) / 18
        ).alias("v"),
        F.count(F.lit(1)).cast("bigint").alias("n_seasons"),
    )
    j = s_stat.crossJoin(var)
    z = F.when(
        F.col("s") > 0, (F.col("s") - 1) / F.sqrt(F.col("v"))
    ).when(
        F.col("s") < 0, (F.col("s") + 1) / F.sqrt(F.col("v"))
    ).otherwise(F.lit(0.0))
    return j.select(
        F.col("n_seasons"),
        F.col("s").cast("bigint").alias("s_stat"),
        F.round(F.sqrt(F.col("v")), 4).alias("sd"),
        F.round(z, 6).alias("z"),
        (F.abs(z) > 1.96).alias("trend_95"),
    )


def l_moments(
    df: DataFrame,
    value_col,
) -> DataFrame:
    """First four L-moments and the L-ratio diagram coordinates
    (L-CV, L-skew, L-kurtosis) — the order-statistics moments that
    stay finite and robust where classical skewness/kurtosis explode
    on heavy-tailed telemetry.

    Exact with ties and NEVER ranking raw rows: probability-weighted
    moments b_r = (1/n) sum C(i-1,r)/C(n-1,r) x_(i) collapse per
    distinct-value block via the hockey-stick identity
    sum_{i=C+1}^{C+c} C(i-1,r) = C(C+c,r+1) - C(C,r+1), so one grid
    window + one reduction produce b_0..b_3 in closed form.
    """
    g = df.select(
        value_col.cast("double").alias("x")
    ).groupBy("x").agg(F.count(F.lit(1)).cast("double").alias("c"))
    wlt = Window.orderBy("x").rowsBetween(
        Window.unboundedPreceding, -1
    )
    cum = g.select(
        "x", "c",
        F.coalesce(F.sum("c").over(wlt), F.lit(0.0)).alias("cc"),
    )

    def choose(xcol, k):
        expr = F.lit(1.0)
        for i in range(k):
            expr = expr * (xcol - i)
        return expr / float(__import__("math").factorial(k))

    def block_sum(r):
        hi = F.col("cc") + F.col("c")
        return choose(hi, r + 1) - choose(F.col("cc"), r + 1)

    a = cum.agg(
        F.sum("c").alias("n"),
        *[
            F.sum(F.col("x") * block_sum(r)).alias(f"s{r}")
            for r in range(4)
        ],
    )
    n = F.col("n")
    b = [
        F.col(f"s{r}") / choose(n - 1, r) / n if r else
        F.col("s0") / n
        for r in range(4)
    ]
    l1 = b[0]
    l2 = 2 * b[1] - b[0]
    l3 = 6 * b[2] - 6 * b[1] + b[0]
    l4 = 20 * b[3] - 30 * b[2] + 12 * b[1] - b[0]
    return a.select(
        n.cast("bigint").alias("n_obs"),
        F.round(l1, 6).alias("l1_location"),
        F.round(l2, 6).alias("l2_scale"),
        F.round(l2 / l1, 6).alias("l_cv"),
        F.round(l3 / l2, 6).alias("l_skewness"),
        F.round(l4 / l2, 6).alias("l_kurtosis"),
    )


def pinball_loss_eval(
    df: DataFrame,
    order_col: str,
    value_col: str,
    taus: list[float],
    window: int = 24,
) -> DataFrame:
    """Pinball (quantile) loss of trailing-window empirical quantile
    forecasts: for each tau, forecast the next point as the
    tau-quantile of the last ``window`` points and score tau*(y-q)+
    + (1-tau)*(q-y)+ — the proper scoring rule that makes quantile
    forecasts honest (an over-wide p90 band loses points).

    The trailing quantile is exact type-1 (k-th smallest via
    sort_array over a bounded collect_list frame — the window is a
    config constant, never data-sized).  One frame window per tau.
    """
    w = Window.orderBy(order_col).rowsBetween(-window, -1)
    arr = F.sort_array(
        F.collect_list(F.col(value_col).cast("double")).over(w)
    )
    base = df.select(
        F.col(order_col).alias("o"),
        F.col(value_col).cast("double").alias("y"),
        arr.alias("hist"),
    ).filter(F.size("hist") >= window)
    outs = []
    for tau in taus:
        k = max(1, int(tau * window + 0.9999999))
        q = F.element_at("hist", min(k, window))
        loss = F.when(
            F.col("y") >= q, tau * (F.col("y") - q)
        ).otherwise((1 - tau) * (q - F.col("y")))
        outs.append(
            base.agg(
                F.lit(tau).alias("tau"),
                F.count(F.lit(1)).cast("bigint").alias("n_forecasts"),
                F.round(F.avg(loss), 6).alias("mean_pinball"),
                F.round(
                    F.avg((F.col("y") > q).cast("double")), 6
                ).alias("exceed_rate"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out.orderBy("tau")


def crps_empirical(
    df: DataFrame,
    group_col: str,
    member_col,
    obs_col,
) -> DataFrame:
    """Continuous ranked probability score of an empirical ensemble
    against an observation, per group: CRPS = E|X - y| -
    0.5 E|X - X'| — the distribution-honest generalization of MAE
    (sharp AND calibrated ensembles win).

    Ensembles are bounded member sets per group, so E|X-y| is one
    keyed aggregate and the pairwise E|X-X'| one within-group
    self-join on the bounded member table.  Emits per-group CRPS and
    the corpus mean.
    """
    m = df.select(
        F.col(group_col).alias("g"),
        member_col.cast("double").alias("x"),
        obs_col.cast("double").alias("y"),
    )
    t1 = m.groupBy("g").agg(
        F.avg(F.abs(F.col("x") - F.col("y"))).alias("e_xy"),
        F.count(F.lit(1)).cast("double").alias("k"),
        F.max("y").alias("y"),
    )
    a = m.select("g", F.col("x").alias("x1"))
    b = m.select("g", F.col("x").alias("x2"))
    t2 = a.join(b, "g").groupBy("g").agg(
        F.avg(F.abs(F.col("x1") - F.col("x2"))).alias("e_xx")
    )
    per = t1.join(t2, "g").select(
        "g", "k", "y",
        F.round(
            F.col("e_xy") - 0.5 * F.col("e_xx"), 6
        ).alias("crps"),
    )
    tot = per.agg(F.round(F.avg("crps"), 6).alias("mean_crps"))
    return per.crossJoin(tot).select(
        F.col("g").alias(group_col),
        F.col("k").cast("bigint").alias("n_members"),
        F.round("y", 4).alias("observation"),
        "crps", "mean_crps",
    ).orderBy(group_col)


def tracking_signal(
    df: DataFrame,
    order_col: str,
    actual_col: str,
    forecast_col: str,
    limit: float = 4.0,
) -> DataFrame:
    """Forecast tracking signal: cumulative error / mean absolute
    deviation, point by point — the ops-forecasting drift monitor
    (|TS| beyond ~4 says the forecast is persistently biased, not
    just noisy).

    Two cumulative windows (running error sum, running MAD); emits
    the trajectory with breach flags.
    """
    w = Window.orderBy(order_col).rowsBetween(
        Window.unboundedPreceding, 0
    )
    e = F.col("a") - F.col("f")
    s = df.select(
        F.col(order_col).alias("o"),
        F.col(actual_col).cast("double").alias("a"),
        F.col(forecast_col).cast("double").alias("f"),
    ).select(
        "o", "a", "f",
        F.sum(e).over(w).alias("cum_err"),
        F.avg(F.abs(e)).over(w).alias("mad"),
        F.row_number().over(Window.orderBy(order_col)).alias("rn"),
    )
    ts = F.when(F.col("mad") > 0, F.col("cum_err") / F.col("mad"))
    return s.select(
        "o",
        F.round("a", 4).alias("actual"),
        F.round("f", 4).alias("forecast"),
        F.round("cum_err", 4).alias("cum_error"),
        F.round("mad", 6).alias("mad"),
        F.round(ts, 6).alias("tracking_signal"),
        F.coalesce(F.abs(ts) > limit, F.lit(False)).alias("biased"),
    ).orderBy("o")


def msprt_always_valid(
    df: DataFrame,
    order_col: str,
    value_col,
    mu0: float,
    sigma: float,
    tau: float = 1.0,
    alpha: float = 0.05,
) -> DataFrame:
    """Mixture sequential probability ratio test (normal mixture,
    variance tau^2): the ALWAYS-VALID test statistic Lambda_n =
    sqrt(sigma^2/(sigma^2+n tau^2)) * exp(n^2 tau^2 (xbar-mu0)^2 /
    (2 sigma^2 (sigma^2 + n tau^2))) — peeking-proof monitoring
    (reject whenever Lambda exceeds 1/alpha, at any n, and the
    error guarantee still holds; the fix for the repo's z-test being
    peeked at every hour).

    One cumulative-sum window produces the whole Lambda trajectory;
    emits each step with the always-valid decision and the first
    crossing step.
    """
    w = Window.orderBy(order_col).rowsBetween(
        Window.unboundedPreceding, 0
    )
    s2, t2 = sigma * sigma, tau * tau
    base = df.select(
        F.col(order_col).alias("o"),
        value_col.cast("double").alias("x"),
    ).select(
        "o",
        F.row_number().over(Window.orderBy(order_col))
        .cast("double").alias("n"),
        F.sum("x").over(w).alias("sx"),
    )
    xbar = F.col("sx") / F.col("n")
    lam_ln = (
        0.5 * F.log(F.lit(s2) / (s2 + F.col("n") * t2))
        + (
            F.col("n") * F.col("n") * t2
            * (xbar - mu0) * (xbar - mu0)
        ) / (2 * s2 * (s2 + F.col("n") * t2))
    )
    thresh = float(__import__("math").log(1.0 / alpha))
    traj = base.select(
        "o", F.col("n").cast("bigint").alias("n"),
        F.round(xbar, 6).alias("running_mean"),
        F.round(lam_ln, 6).alias("log_lambda"),
        (lam_ln > thresh).alias("reject_now"),
    )
    first = traj.filter(F.col("reject_now")).agg(
        F.min("n").alias("first_rejection_n")
    )
    return traj.crossJoin(first).orderBy("o")


def decision_curve_net_benefit(
    df: DataFrame,
    score_col,
    label_col,
    thresholds: list[float],
) -> DataFrame:
    """Decision-curve analysis: net benefit NB(pt) = TP/n - FP/n *
    pt/(1-pt) of 'treat if score >= cutoff matching pt' against the
    treat-all and treat-none baselines — does acting on the score
    beat acting blindly, at each plausible cost/benefit tradeoff?

    The confusion counts at every probability threshold come from
    cumulative windows on the bounded cents grid (the MCC-sweep
    machinery); thresholds are a bounded literal list.
    """
    cum = _confusion_sweep(df, score_col, label_col)
    spark = df.sparkSession
    th = spark.range(len(thresholds)).select(
        F.element_at(
            F.array(*[F.lit(float(t)) for t in thresholds]),
            F.col("id").cast("int") + 1,
        ).alias("pt")
    )
    # cutoff for pt: smallest v with v/100 >= pt
    joined = th.join(
        cum, F.col("v") / 100.0 >= F.col("pt")
    ).groupBy("pt").agg(
        F.min_by("tp", "v").alias("tp"),
        F.min_by("fp", "v").alias("fp"),
        F.max("n").alias("n"),
        F.max("p").alias("p"),
    )
    nb = (
        F.col("tp") / F.col("n")
        - F.col("fp") / F.col("n")
        * (F.col("pt") / (1 - F.col("pt")))
    )
    nb_all = (
        F.col("p") / F.col("n")
        - (1 - F.col("p") / F.col("n"))
        * (F.col("pt") / (1 - F.col("pt")))
    )
    return joined.select(
        F.round("pt", 4).alias("threshold_pt"),
        F.col("tp").cast("bigint").alias("tp"),
        F.col("fp").cast("bigint").alias("fp"),
        F.round(nb, 6).alias("net_benefit_model"),
        F.round(nb_all, 6).alias("net_benefit_treat_all"),
        F.round(nb - F.greatest(nb_all, F.lit(0.0)), 6).alias(
            "advantage_over_best_baseline"
        ),
    ).orderBy("threshold_pt")


def spectral_flatness(
    df: DataFrame,
    order_col: str,
    value_col: str,
    periods: tuple = (2, 26),
) -> DataFrame:
    """Spectral flatness (Wiener entropy) of a rollup series over a
    bounded period grid: geometric mean / arithmetic mean of the
    periodogram power — 1.0 is white noise, near 0 is a pure tone
    (one dominating cycle).  The single-number companion to
    periodogram_peak's argmax.

    Power at each candidate period from centered sin/cos sums via a
    bounded grid x series join; flatness via exp(mean log) in one
    reduction.
    """
    base = df.select(
        F.col(order_col).cast("long").alias("o"),
        F.col(value_col).cast("double").alias("x"),
    )
    stats = base.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.avg("x").alias("mu"),
        F.min("o").alias("o0"),
    )
    spark = df.sparkSession
    pgrid = spark.range(periods[0], periods[1]).select(
        F.col("id").cast("double").alias("per")
    )
    two_pi = 6.283185307179586
    j = base.crossJoin(stats).crossJoin(pgrid)
    ang = two_pi * (F.col("o") - F.col("o0")).cast("double") / F.col("per")
    pw = j.groupBy("per").agg(
        (
            (
                F.pow(
                    F.sum((F.col("x") - F.col("mu")) * F.cos(ang)), 2
                )
                + F.pow(
                    F.sum((F.col("x") - F.col("mu")) * F.sin(ang)), 2
                )
            ) / F.max("n")
        ).alias("p")
    )
    a = pw.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_periods"),
        F.exp(F.avg(F.log(F.col("p") + 1e-12))).alias("gm"),
        F.avg("p").alias("am"),
        F.max_by("per", "p").alias("peak_period"),
    )
    return a.select(
        "n_periods",
        F.round(F.col("gm") / F.col("am"), 6).alias("flatness"),
        F.col("peak_period").cast("bigint").alias("peak_period"),
        F.round("am", 4).alias("mean_power"),
    )


HMM_A = ((0.9, 0.1), (0.2, 0.8))
HMM_E = (0.2, 0.8)  # P(flag=1 | calm), P(flag=1 | burst)


def hmm_forward_loglik(
    df: DataFrame,
    order_col: str,
    flag_col,
) -> DataFrame:
    """Forward-algorithm log-likelihood of the binarized series
    under the fixed 2-state calm/burst HMM the Viterbi entry
    decodes: how WELL does the burst model explain the stream
    (model selection / drift score), not just what the best path is.

    Scaled forward recursion as a per-series fold: per step alpha'
    = (alpha A) * e, normalize, accumulate ln of the normalizer —
    9dp rounding of the two scaled alphas per step (the fixed-
    schedule reproducibility contract).  Emits total log-likelihood,
    per-symbol perplexity, and the final state posterior.
    """
    (a00, a01), (a10, a11) = HMM_A
    e0, e1 = HMM_E
    base = df.select(
        F.col(order_col).cast("long").alias("_o"),
        flag_col.cast("int").alias("_f"),
    )
    ser = base.groupBy().agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("_o", "_f"))),
            lambda e: e["_f"],
        ).alias("_fs"),
    )
    def em(state_p1, sym):
        return (
            f"(case when {sym} = 1 then {state_p1}"
            f" else {1 - state_p1} end)"
        )
    fold = (
        "aggregate(_fs,"
        " named_struct('a0', cast(0.5 as double),"
        " 'a1', cast(0.5 as double), 'll', cast(0.0 as double)),"
        " (acc, f) -> "
        f" named_struct("
        f" 'a0', round((acc.a0 * {a00} + acc.a1 * {a10})"
        f" * {em(e0, 'f')}"
        f" / ((acc.a0 * {a00} + acc.a1 * {a10}) * {em(e0, 'f')}"
        f"    + (acc.a0 * {a01} + acc.a1 * {a11}) * {em(e1, 'f')}), 9),"
        f" 'a1', round((acc.a0 * {a01} + acc.a1 * {a11})"
        f" * {em(e1, 'f')}"
        f" / ((acc.a0 * {a00} + acc.a1 * {a10}) * {em(e0, 'f')}"
        f"    + (acc.a0 * {a01} + acc.a1 * {a11}) * {em(e1, 'f')}), 9),"
        f" 'll', acc.ll + ln((acc.a0 * {a00} + acc.a1 * {a10})"
        f" * {em(e0, 'f')}"
        f" + (acc.a0 * {a01} + acc.a1 * {a11}) * {em(e1, 'f')})))"
    )
    folded = ser.withColumn("_st", F.expr(fold))
    st = F.col("_st")
    n = F.size("_fs").cast("double")
    return folded.select(
        F.size("_fs").cast("bigint").alias("n_symbols"),
        F.round(st.getField("ll"), 6).alias("log_likelihood"),
        F.round(F.exp(-st.getField("ll") / n), 6).alias("perplexity"),
        F.round(st.getField("a1"), 6).alias("p_burst_final"),
    )


def mondrian_partition(
    df: DataFrame,
    x_col,
    y_col,
    k: int = 10,
) -> DataFrame:
    """Depth-2 Mondrian k-anonymity partitioning: split the (x, y)
    population at the exact x-median, then each half at its own
    y-median — four generalization cells with bounds, sizes, and
    the k-anonymity verdict per cell (the partition step behind the
    repo's k_anonymity_audit).

    Medians are exact type-1 count-logic quantiles on bounded
    distinct-value grids (no interpolation ambiguity); assignment is
    two threshold joins.  Deterministic everywhere.
    """
    pts = df.select(
        x_col.cast("double").alias("x"), y_col.cast("double").alias("y")
    ).localCheckpoint(eager=True)

    def median_of(frame, col):
        g = frame.groupBy(col).agg(F.count(F.lit(1)).alias("c"))
        wc = Window.orderBy(col).rowsBetween(
            Window.unboundedPreceding, 0
        )
        tot = g.agg(F.sum("c").alias("n"))
        return g.select(
            F.col(col).alias("v"), F.sum("c").over(wc).alias("cum")
        ).crossJoin(tot).filter(
            F.col("cum") * 2 >= F.col("n")
        ).agg(F.min("v").alias("med"))

    mx = median_of(pts, "x")
    p1 = pts.crossJoin(mx).select(
        "x", "y", (F.col("x") <= F.col("med")).cast("int").alias("hx")
    ).localCheckpoint(eager=True)
    my0 = median_of(p1.filter(F.col("hx") == 1), "y").select(
        F.lit(1).alias("hx"), F.col("med").alias("medy")
    )
    my1 = median_of(p1.filter(F.col("hx") == 0), "y").select(
        F.lit(0).alias("hx"), F.col("med").alias("medy")
    )
    meds = my0.unionByName(my1)
    cells = p1.join(meds, "hx").select(
        "x", "y", "hx",
        (F.col("y") <= F.col("medy")).cast("int").alias("hy"),
    )
    out = cells.groupBy("hx", "hy").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.round(F.min("x"), 4).alias("x_lo"),
        F.round(F.max("x"), 4).alias("x_hi"),
        F.round(F.min("y"), 4).alias("y_lo"),
        F.round(F.max("y"), 4).alias("y_hi"),
    )
    return out.select(
        (F.lit(2) * (1 - F.col("hx")) + (1 - F.col("hy")))
        .cast("int").alias("cell"),
        "n", "x_lo", "x_hi", "y_lo", "y_hi",
        (F.col("n") >= k).alias("k_anonymous"),
    ).orderBy("cell")


def partial_correlation(
    df: DataFrame,
    x_col: str,
    y_col: str,
    z_col: str,
) -> DataFrame:
    """First-order partial correlation r_xy.z = (r_xy - r_xz r_zy) /
    sqrt((1-r_xz^2)(1-r_zy^2)): does the x-y co-movement survive
    once the confounder z is held fixed?  (Errors and clicks both
    ride total load — the partial asks if they co-move beyond it.)

    One moment pass (three means, three cross-products), in-row
    algebra; the naive and partial correlations emitted side by
    side — the gap is the confounding.
    """
    base = df.select(
        F.col(x_col).cast("double").alias("x"),
        F.col(y_col).cast("double").alias("y"),
        F.col(z_col).cast("double").alias("z"),
    )
    m = base.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.avg("x").alias("mx"), F.avg("y").alias("my"),
        F.avg("z").alias("mz"),
        F.avg(F.col("x") * F.col("y")).alias("mxy"),
        F.avg(F.col("x") * F.col("z")).alias("mxz"),
        F.avg(F.col("y") * F.col("z")).alias("myz"),
        F.avg(F.col("x") * F.col("x")).alias("mxx"),
        F.avg(F.col("y") * F.col("y")).alias("myy"),
        F.avg(F.col("z") * F.col("z")).alias("mzz"),
    )

    def corr(ab, a, b, aa, bb):
        return (F.col(ab) - F.col(a) * F.col(b)) / F.sqrt(
            (F.col(aa) - F.col(a) * F.col(a))
            * (F.col(bb) - F.col(b) * F.col(b))
        )

    rxy = corr("mxy", "mx", "my", "mxx", "myy")
    rxz = corr("mxz", "mx", "mz", "mxx", "mzz")
    rzy = corr("myz", "my", "mz", "myy", "mzz")
    part = (rxy - rxz * rzy) / F.sqrt(
        (1 - rxz * rxz) * (1 - rzy * rzy)
    )
    return m.select(
        F.col("n").cast("bigint").alias("n_obs"),
        F.round(rxy, 6).alias("r_xy"),
        F.round(rxz, 6).alias("r_xz"),
        F.round(rzy, 6).alias("r_zy"),
        F.round(part, 6).alias("r_xy_given_z"),
        F.round(rxy - part, 6).alias("confounded_share"),
    )


def ledoit_wolf_shrinkage(
    df: DataFrame,
    key_col: str,
    item_col: str,
    value_col: str,
) -> DataFrame:
    """Ledoit-Wolf covariance shrinkage toward the scaled identity
    over a bounded item set: intensity rho* = min(1, (1/n) * avg
    var of sample covariances / dispersion around the target) — the
    estimator that keeps small-sample covariance matrices invertible
    and honest (portfolio/anomaly whitening on correlated metrics).

    Items pivot onto the bounded grid per key; all moments are keyed
    aggregates over item PAIRS (|items|^2-bounded).  Emits the
    shrinkage intensity, target scale, and the shrunk diagonal/
    off-diagonal averages.
    """
    cells = df.select(
        F.col(key_col).alias("k"),
        F.col(item_col).alias("i"),
        F.col(value_col).cast("double").alias("x"),
    )
    means = cells.groupBy("i").agg(F.avg("x").alias("mu"))
    c = cells.join(means, "i").select(
        "k", "i", (F.col("x") - F.col("mu")).alias("xc")
    )
    a = c.select("k", F.col("i").alias("i1"), F.col("xc").alias("x1"))
    b = c.select("k", F.col("i").alias("i2"), F.col("xc").alias("x2"))
    pairs = a.join(b, "k")
    s = pairs.groupBy("i1", "i2").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.avg(F.col("x1") * F.col("x2")).alias("s_ij"),
        F.avg(
            F.col("x1") * F.col("x2") * F.col("x1") * F.col("x2")
        ).alias("s2_ij"),
    )
    agg = s.agg(
        F.max("n").alias("n"),
        F.sum(
            F.when(F.col("i1") == F.col("i2"), F.col("s_ij"))
            .otherwise(0.0)
        ).alias("tr_s"),
        F.sum(
            F.when(F.col("i1") == F.col("i2"), 1.0).otherwise(0.0)
        ).alias("p"),
        F.sum(
            (F.col("s2_ij") - F.col("s_ij") * F.col("s_ij"))
            / F.col("n")
        ).alias("b2"),
        F.sum(F.col("s_ij") * F.col("s_ij")).alias("fro2"),
    )
    mu_t = F.col("tr_s") / F.col("p")
    d2 = F.col("fro2") - 2 * mu_t * F.col("tr_s") + F.col("p") * mu_t * mu_t
    rho = F.least(F.lit(1.0), F.col("b2") / d2)
    return agg.select(
        F.col("n").cast("bigint").alias("n_samples"),
        F.col("p").cast("bigint").alias("n_items"),
        F.round(mu_t, 6).alias("target_scale"),
        F.round(F.col("b2"), 6).alias("est_error_b2"),
        F.round(d2, 6).alias("dispersion_d2"),
        F.round(rho, 6).alias("shrinkage_rho"),
    )


def poisson_scan_statistic(
    df: DataFrame,
    order_col: str,
    count_col: str,
    window_lengths: tuple = (6, 12, 24),
) -> DataFrame:
    """Kulldorff-style Poisson scan statistic over the bucket
    series: the (start, length) window maximizing the likelihood
    ratio x ln(x/E) + (N-x) ln((N-x)/(N-E)) for inside-vs-outside
    counts (only excess windows count) — WHERE is the epidemic, with
    the multiple-window-positions question answered by the max, not
    a per-window test.

    Rolling sums for each bounded window length + a rank-1 argmax.
    """
    w = Window.orderBy(order_col)
    tot = df.agg(
        F.sum(F.col(count_col).cast("double")).alias("nn"),
        F.count(F.lit(1)).cast("double").alias("t"),
    )
    cands = None
    for L in window_lengths:
        fr = w.rowsBetween(-(L - 1), 0)
        c = df.select(
            F.col(order_col).alias("o"),
            F.sum(F.col(count_col).cast("double")).over(fr).alias("x"),
            F.count(F.lit(1)).over(fr).alias("m"),
            F.lit(L).alias("len"),
        ).filter(F.col("m") == L)
        cands = c if cands is None else cands.unionByName(c)
    j = cands.crossJoin(tot)
    e = F.col("nn") * F.col("len") / F.col("t")
    llr = F.when(
        F.col("x") > e,
        F.col("x") * F.log(F.col("x") / e)
        + (F.col("nn") - F.col("x"))
        * F.log((F.col("nn") - F.col("x")) / (F.col("nn") - e)),
    ).otherwise(F.lit(0.0))
    scored = j.select(
        "o", "len", "x",
        F.round(e, 4).alias("expected"),
        F.round(llr, 9).alias("llr"),
    )
    r = Window.orderBy(F.desc("llr"), F.asc("o"), F.asc("len"))
    return scored.select(
        "*", F.row_number().over(r).alias("rk")
    ).filter(F.col("rk") == 1).select(
        (F.col("o") - F.col("len") + 1).alias("window_start"),
        F.col("o").alias("window_end"),
        F.col("len").cast("bigint").alias("window_len"),
        F.col("x").cast("bigint").alias("observed"),
        "expected",
        F.round(F.col("llr"), 6).alias("scan_llr"),
    )


def grey_gm11_forecast(
    df: DataFrame,
    order_col: str,
    value_col: str,
    horizon: int = 6,
) -> DataFrame:
    """GM(1,1) grey-model forecast: the small-sample forecaster that
    needs only a handful of points — AGO-accumulate the series, fit
    dx/dt + a x = b by OLS on the mean-generated background z(k),
    forecast via the exponential response, difference back.  (The
    classic when a new service has 10 data points and Holt-Winters
    has nothing to chew on.)

    One cumulative window, one lag, one 2x2 closed-form OLS, a
    bounded horizon explode.  Emits a and b, the development
    coefficient verdict, and h-step forecasts.
    """
    w = Window.orderBy(order_col)
    wk = Window.orderBy("k").rowsBetween(Window.unboundedPreceding, 0)
    base = df.select(
        F.col(value_col).cast("double").alias("x"),
        F.row_number().over(w).cast("double").alias("k"),
    ).select(
        "x", "k",
        F.sum("x").over(wk).alias("ago"),
    ).select(
        "x", "k", "ago",
        (
            (F.lag("ago").over(Window.orderBy("k")) + F.col("ago")) / 2
        ).alias("z"),
    )
    reg = base.filter(F.col("z").isNotNull())
    m = reg.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.avg("z").alias("mz"), F.avg("x").alias("mx"),
        F.avg(F.col("z") * F.col("x")).alias("mzx"),
        F.avg(F.col("z") * F.col("z")).alias("mzz"),
    )
    # x(k) = -a z(k) + b  ->  a = -slope, b = xbar + a zbar
    a_c = -(
        (F.col("mzx") - F.col("mz") * F.col("mx"))
        / (F.col("mzz") - F.col("mz") * F.col("mz"))
    )
    b_c = F.col("mx") + a_c * F.col("mz")
    first = base.filter(F.col("k") == 1).select(
        F.col("x").alias("x1")
    )
    nmax = base.agg(F.max("k").alias("kmax"))
    spark = df.sparkSession
    hs = spark.range(1, horizon + 1).select(
        F.col("id").cast("double").alias("h")
    )
    j = m.crossJoin(first).crossJoin(nmax).crossJoin(hs)
    # x_hat(k) = (x1 - b/a) e^{-a(k-1)} (1 - e^{a}) for k >= 2
    kf = F.col("kmax") + F.col("h")
    fc = (
        (F.col("x1") - b_c / a_c)
        * F.exp(-a_c * (kf - 1))
        * (1 - F.exp(a_c))
    )
    return j.select(
        F.col("h").cast("bigint").alias("h"),
        F.round(a_c, 6).alias("develop_a"),
        F.round(b_c, 6).alias("grey_b"),
        F.round(fc, 4).alias("forecast"),
        (F.abs(a_c) < 0.3).alias("gm11_applicable"),
    ).orderBy("h")


def energy_distance(
    df: DataFrame,
    group_col,
    value_col,
) -> DataFrame:
    """Energy distance between two samples: D^2 = 2 E|X-Y| - E|X-X'|
    - E|Y-Y'| — zero iff the distributions match, sensitive to ANY
    difference (location, scale, shape), the modern alternative to
    KS the repo's drift suite lacks.

    All three expectations collapse onto bounded distinct-value
    grids: |X-Y| terms are a grid x grid join weighted by counts —
    never a row-level pair.  Emits D^2 and the normalized
    (0..1-ish) energy coefficient.
    """
    g = df.select(
        group_col.cast("int").alias("grp"),
        value_col.cast("double").alias("v"),
    ).groupBy("grp", "v").agg(
        F.count(F.lit(1)).cast("double").alias("c")
    ).localCheckpoint(eager=True)

    def cross(g1, g2, name):
        a = g.filter(F.col("grp") == g1).select(
            F.col("v").alias("va"), F.col("c").alias("ca")
        )
        b = g.filter(F.col("grp") == g2).select(
            F.col("v").alias("vb"), F.col("c").alias("cb")
        )
        return a.crossJoin(b).agg(
            (
                F.sum(
                    F.col("ca") * F.col("cb")
                    * F.abs(F.col("va") - F.col("vb"))
                )
                / (F.sum(F.col("ca") * F.col("cb")))
            ).alias(name)
        )
    exy = cross(0, 1, "e_xy")
    exx = cross(0, 0, "e_xx")
    eyy = cross(1, 1, "e_yy")
    counts = g.groupBy("grp").agg(F.sum("c").alias("n")).groupBy().pivot(
        "grp", [0, 1]
    ).sum("n")
    j = exy.crossJoin(exx).crossJoin(eyy).crossJoin(counts)
    d2 = 2 * F.col("e_xy") - F.col("e_xx") - F.col("e_yy")
    return j.select(
        F.col("0").cast("bigint").alias("n_x"),
        F.col("1").cast("bigint").alias("n_y"),
        F.round("e_xy", 6).alias("e_cross"),
        F.round(d2, 6).alias("energy_d2"),
        F.round(d2 / (2 * F.col("e_xy")), 6).alias("energy_coef"),
    )


def biweight_midvariance(
    df: DataFrame,
    value_col,
    c: float = 9.0,
) -> DataFrame:
    """Tukey biweight midvariance: the robust scale estimator that
    downweights (not merely trims) outliers — u = (x-M)/(c*MAD),
    weight (1-u^2)^2 inside |u|<1 — with ~87% efficiency at the
    normal, versus the MAD's 37%.  The scale companion to the
    repo's huber_location.

    Median and MAD are exact count-logic quantiles on the bounded
    cents grid; the weighted sums are one aggregate over the grid.
    """
    g = df.select(
        F.round(value_col.cast("double") * 100).cast("long").alias("v")
    ).groupBy("v").agg(
        F.count(F.lit(1)).cast("double").alias("cnt")
    ).localCheckpoint(eager=True)

    def q50(frame, col):
        wc = Window.orderBy(col).rowsBetween(
            Window.unboundedPreceding, 0
        )
        tot = frame.agg(F.sum("cnt").alias("n"))
        return frame.select(
            F.col(col).alias("vv"), F.sum("cnt").over(wc).alias("cum")
        ).crossJoin(tot).filter(
            F.col("cum") * 2 >= F.col("n")
        ).agg(F.min("vv").alias("med"))

    med = q50(g, "v")
    dev = g.crossJoin(med).select(
        "v", "cnt", F.abs(F.col("v") - F.col("med")).alias("ad"),
        F.col("med").alias("med"),
    ).localCheckpoint(eager=True)
    mad_g = dev.groupBy("ad").agg(F.sum("cnt").alias("cnt"))
    mad = q50(mad_g, "ad").select(F.col("med").alias("mad"))
    j = dev.crossJoin(mad)
    u = (F.col("v") - F.col("med")) / (c * F.col("mad"))
    inside = F.abs(u) < 1
    w2 = (1 - u * u) * (1 - u * u)
    num = F.sum(
        F.when(
            inside,
            F.col("cnt") * F.pow(F.col("v") - F.col("med"), 2)
            * F.pow(1 - u * u, 4),
        ).otherwise(0.0)
    )
    den = F.sum(
        F.when(inside, F.col("cnt") * w2 * (1 - 5 * u * u))
        .otherwise(0.0)
    )
    ntot = F.sum("cnt")
    a = j.agg(
        ntot.alias("n"), num.alias("num"), den.alias("den"),
        F.max("med").alias("med"), F.max("mad").alias("mad"),
    )
    bwmv = F.col("n") * F.col("num") / (F.col("den") * F.col("den"))
    return a.select(
        F.col("n").cast("bigint").alias("n_obs"),
        (F.col("med") / 100).alias("median"),
        (F.col("mad") / 100).alias("mad"),
        F.round(F.sqrt(bwmv) / 100, 6).alias("biweight_scale"),
        F.round(bwmv / 10000, 6).alias("biweight_midvariance"),
    )


def histogram_bin_advisor(
    df: DataFrame,
    value_col,
) -> DataFrame:
    """Histogram binning advisor: Sturges, Scott, and
    Freedman-Diaconis bin counts side by side from one pass (exact
    count-logic quartiles for the IQR) — the pre-step every
    dashboard histogram needs and nobody computes.
    """
    g = df.select(
        F.round(value_col.cast("double") * 100).cast("long").alias("v")
    ).groupBy("v").agg(
        F.count(F.lit(1)).cast("double").alias("c")
    ).localCheckpoint(eager=True)
    wc = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    tot = g.agg(
        F.sum("c").alias("n"),
        F.sum(F.col("c") * F.col("v")).alias("s"),
        F.sum(F.col("c") * F.col("v") * F.col("v")).alias("ss"),
        F.min("v").alias("lo"), F.max("v").alias("hi"),
    )
    cum = g.select("v", F.sum("c").over(wc).alias("cum"))

    def quant(mult_num, mult_den):
        return cum.crossJoin(tot).filter(
            F.col("cum") * mult_den >= F.col("n") * mult_num
        ).agg(F.min("v").alias("q"))

    q1 = quant(1, 4).select(F.col("q").alias("q25"))
    q3 = quant(3, 4).select(F.col("q").alias("q75"))
    j = tot.crossJoin(q1).crossJoin(q3)
    n = F.col("n")
    sd = F.sqrt(
        F.col("ss") / n - (F.col("s") / n) * (F.col("s") / n)
    )
    rng = (F.col("hi") - F.col("lo")).cast("double")
    iqr = (F.col("q75") - F.col("q25")).cast("double")
    h_scott = 3.49 * sd * F.pow(n, -1.0 / 3.0)
    h_fd = 2.0 * iqr * F.pow(n, -1.0 / 3.0)
    return j.select(
        n.cast("bigint").alias("n_obs"),
        (rng / 100).alias("value_range"),
        F.round(iqr / 100, 4).alias("iqr"),
        F.round(sd / 100, 4).alias("std"),
        (F.ceil(F.log2(n)) + 1).cast("bigint").alias("sturges_bins"),
        F.when(
            h_scott > 0, F.ceil(rng / h_scott)
        ).cast("bigint").alias("scott_bins"),
        F.when(
            h_fd > 0, F.ceil(rng / h_fd)
        ).cast("bigint").alias("fd_bins"),
    )


def youden_j_threshold(
    df: DataFrame,
    score_col,
    label_col,
) -> DataFrame:
    """Youden's J optimal cutoff (sensitivity + specificity - 1
    maximized): the prevalence-free counterpart of the MCC sweep —
    right when the deployment base rate will differ from the
    training one.  Same cents-grid confusion machinery, rank-1
    argmax with 9dp rounding.
    """
    cum = _confusion_sweep(df, score_col, label_col)
    sens = F.col("tp") / F.col("p")
    spec = 1 - F.col("fp") / (F.col("n") - F.col("p"))
    jst = F.round(sens + spec - 1, 9)
    scored = cum.select(
        "v", F.col("tp"), F.col("fp"),
        F.round(sens, 6).alias("sensitivity"),
        F.round(spec, 6).alias("specificity"),
        jst.alias("j"),
    )
    r = Window.orderBy(F.desc("j"), F.asc("v"))
    return scored.select(
        "*", F.row_number().over(r).alias("rk")
    ).filter(F.col("rk") == 1).select(
        (F.col("v") / 100.0).alias("best_threshold"),
        "sensitivity", "specificity",
        F.round("j", 6).alias("youden_j"),
    )


def surprisal_outliers(
    df: DataFrame,
    type_col: str,
    hour_col,
    top_k: int = 20,
) -> DataFrame:
    """Per-event surprisal -log2 p(type, hour) under the empirical
    joint: the information-theoretic anomaly score — which cells of
    the behavior grid are so rare that any event in them deserves a
    look.  Emits the top_k most surprising CELLS with their counts
    (cells, not rows: the score is identical for every event in a
    cell, and the cell list is bounded).
    """
    cells = df.groupBy(
        F.col(type_col).alias("t"), hour_col.cast("int").alias("h")
    ).agg(F.count(F.lit(1)).cast("double").alias("c"))
    tot = cells.agg(F.sum("c").alias("n"))
    j = cells.crossJoin(tot)
    surp = -F.log2(F.col("c") / F.col("n"))
    w = Window.orderBy(
        F.desc("surprisal"), F.asc("t"), F.asc("h")
    )
    scored = j.select(
        "t", "h", F.col("c").cast("bigint").alias("n_events"),
        F.round(surp, 6).alias("surprisal"),
    )
    return scored.select(
        "*", F.row_number().over(w).alias("rk")
    ).filter(F.col("rk") <= top_k).select(
        F.col("t").alias(type_col), F.col("h").alias("hour"),
        "n_events", "surprisal",
    )


def cmh_test(
    df: DataFrame,
    stratum_col,
    exposed_col,
    outcome_col,
) -> DataFrame:
    """Cochran-Mantel-Haenszel stratified 2x2 association: the
    common odds ratio and the CMH chi-square across strata — does
    the exposure-outcome link survive once the stratifier is held
    fixed (the tabular sibling of the partial correlation, immune
    to Simpson flips the pooled 2x2 suffers).

    One stratum-keyed 2x2 aggregate, closed-form MH pooling with
    the continuity-corrected CMH statistic; flag at 3.841.
    """
    t = df.groupBy(stratum_col.alias("s")).agg(
        F.sum(
            (exposed_col.cast("int") * outcome_col.cast("int"))
            .cast("double")
        ).alias("a"),
        F.sum(
            (exposed_col.cast("int") * (1 - outcome_col.cast("int")))
            .cast("double")
        ).alias("b"),
        F.sum(
            ((1 - exposed_col.cast("int")) * outcome_col.cast("int"))
            .cast("double")
        ).alias("c"),
        F.sum(
            ((1 - exposed_col.cast("int"))
             * (1 - outcome_col.cast("int"))).cast("double")
        ).alias("d"),
    )
    n = F.col("a") + F.col("b") + F.col("c") + F.col("d")
    e_a = (F.col("a") + F.col("b")) * (F.col("a") + F.col("c")) / n
    v_a = (
        (F.col("a") + F.col("b")) * (F.col("c") + F.col("d"))
        * (F.col("a") + F.col("c")) * (F.col("b") + F.col("d"))
        / (n * n * (n - 1))
    )
    agg = t.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_strata"),
        F.sum("a").alias("sa"),
        F.sum(e_a).alias("se"),
        F.sum(v_a).alias("sv"),
        F.sum(F.col("a") * F.col("d") / n).alias("s_ad"),
        F.sum(F.col("b") * F.col("c") / n).alias("s_bc"),
    )
    cmh = F.pow(
        F.abs(F.col("sa") - F.col("se")) - 0.5, 2
    ) / F.col("sv")
    or_mh = F.col("s_ad") / F.col("s_bc")
    return agg.select(
        "n_strata",
        F.round(or_mh, 6).alias("common_odds_ratio"),
        F.round(cmh, 6).alias("cmh_chi2"),
        (cmh > 3.841).alias("associated_95"),
    )


def markov_absorption(
    df: DataFrame,
    user_col: str,
    state_col: str,
    ts_col: str,
    order2_col: str,
    transient: list[str],
    absorbing: list[str],
) -> DataFrame:
    """Absorbing-chain analysis of the empirical transition matrix:
    for each transient state, the probability of ending in each
    absorbing state (B = (I-Q)^{-1} R) and the expected steps to
    absorption ((I-Q)^{-1} 1) — the funnel-outcome question ('from
    browsing, does this end in purchase or error, and how long?')
    answered in closed form, no simulation.

    The chain is |S|^2-bounded; with three transient states the
    (I-Q) solve is a 3x3 Cramer computed in-row from the pivoted
    one-row transition table — no iteration, no driver math.
    """
    assert len(transient) == 3, "closed-form solve is wired for 3"
    w = Window.partitionBy(user_col).orderBy(ts_col, order2_col)
    tr = df.select(
        F.col(state_col).alias("dst"),
        F.lag(state_col).over(w).alias("src"),
    ).filter(F.col("src").isNotNull())
    # transitions out of absorbing states are removed (absorbing =
    # once there, the episode is over)
    tr = tr.filter(F.col("src").isin(transient))
    p = tr.groupBy("src", "dst").agg(
        F.count(F.lit(1)).cast("double").alias("c")
    )
    rowt = p.groupBy("src").agg(F.sum("c").alias("t"))
    pm = p.join(rowt, "src").select(
        "src", "dst", (F.col("c") / F.col("t")).alias("p")
    )
    t0, t1, t2 = transient

    def cell(s, d):
        return F.max(
            F.when(
                (F.col("src") == s) & (F.col("dst") == d), F.col("p")
            )
        )

    one = pm.agg(
        *[
            F.coalesce(cell(s, d), F.lit(0.0)).alias(f"q{i}{j}")
            for i, s in enumerate(transient)
            for j, d in enumerate(transient)
        ],
        *[
            F.coalesce(cell(s, a), F.lit(0.0)).alias(f"r{i}{k}")
            for i, s in enumerate(transient)
            for k, a in enumerate(absorbing)
        ],
    )
    # M = I - Q; solve M X = b by Cramer for each rhs
    m = [[None] * 3 for _ in range(3)]
    for i in range(3):
        for j in range(3):
            base = F.lit(1.0) if i == j else F.lit(0.0)
            m[i][j] = base - F.col(f"q{i}{j}")

    def det3(a):
        return (
            a[0][0] * (a[1][1] * a[2][2] - a[1][2] * a[2][1])
            - a[0][1] * (a[1][0] * a[2][2] - a[1][2] * a[2][0])
            + a[0][2] * (a[1][0] * a[2][1] - a[1][1] * a[2][0])
        )

    dm = det3(m)

    def solve(b):
        xs = []
        for col in range(3):
            a = [
                [b[i] if j == col else m[i][j] for j in range(3)]
                for i in range(3)
            ]
            xs.append(det3(a) / dm)
        return xs

    outs = []
    for k, aname in enumerate(absorbing):
        bk = [F.col(f"r{i}{k}") for i in range(3)]
        outs.append((aname, solve(bk)))
    steps = solve([F.lit(1.0)] * 3)
    rows = []
    for i, s in enumerate(transient):
        sel = [F.lit(s).alias("state")]
        for aname, xs in outs:
            sel.append(F.round(xs[i], 6).alias(f"p_absorb_{aname}"))
        sel.append(F.round(steps[i], 4).alias("expected_steps"))
        rows.append(one.select(*sel))
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out.orderBy("state")


def hodges_lehmann_shift(
    df: DataFrame,
    group_col,
    value_col,
) -> DataFrame:
    """Hodges-Lehmann shift estimator: the MEDIAN of all pairwise
    differences y_j - x_i between two samples — the robust effect
    size that goes with the Mann-Whitney test (its point estimate),
    immune to the outliers that wreck the difference of means.

    Pairwise differences collapse onto the grid-x-grid difference
    table (bounded distinct values each side) with product weights;
    the weighted median is one cumulative window over the bounded
    difference grid.  Never a row-level pair.
    """
    g = df.select(
        group_col.cast("int").alias("grp"),
        F.round(value_col.cast("double") * 100).cast("long").alias("v"),
    ).groupBy("grp", "v").agg(
        F.count(F.lit(1)).cast("double").alias("c")
    )
    a = g.filter(F.col("grp") == 0).select(
        F.col("v").alias("vx"), F.col("c").alias("cx")
    )
    b = g.filter(F.col("grp") == 1).select(
        F.col("v").alias("vy"), F.col("c").alias("cy")
    )
    diffs = a.crossJoin(b).groupBy(
        (F.col("vy") - F.col("vx")).alias("d")
    ).agg(F.sum(F.col("cx") * F.col("cy")).alias("w"))
    tot = diffs.agg(F.sum("w").alias("n"))
    wc = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    med = diffs.select(
        "d", F.sum("w").over(wc).alias("cum")
    ).crossJoin(tot).filter(
        F.col("cum") * 2 >= F.col("n")
    ).agg(F.min("d").alias("hl"))
    counts = g.groupBy("grp").agg(F.sum("c").alias("n")).groupBy().pivot(
        "grp", [0, 1]
    ).sum("n")
    return med.crossJoin(counts).select(
        F.col("0").cast("bigint").alias("n_x"),
        F.col("1").cast("bigint").alias("n_y"),
        (F.col("hl") / 100.0).alias("hl_shift"),
    )


def tukey_nonadditivity(
    df: DataFrame,
    row_col,
    col_col,
    value_col,
) -> DataFrame:
    """Tukey's one-degree-of-freedom test for non-additivity in a
    two-way layout: after removing row and column effects, is the
    residual proportional to (row effect x column effect) — i.e.
    does the grid need an interaction term or a transformation?
    F = SS_nonadd / (SS_resid - SS_nonadd) * (df_resid - 1).

    Cell means, marginal effects, and the regression of residuals on
    the effect product are all keyed aggregates over the bounded
    grid.
    """
    cells = df.groupBy(
        row_col.alias("r"), col_col.alias("cc")
    ).agg(F.avg(value_col.cast("double")).alias("y"))
    gm = cells.agg(F.avg("y").alias("mu"))
    rm = cells.groupBy("r").agg(F.avg("y").alias("yr"))
    cm = cells.groupBy("cc").agg(F.avg("y").alias("yc"))
    j = cells.join(rm, "r").join(cm, "cc").crossJoin(gm).select(
        "r", "cc", "y",
        (F.col("yr") - F.col("mu")).alias("a"),
        (F.col("yc") - F.col("mu")).alias("b"),
        (
            F.col("y") - F.col("yr") - F.col("yc") + F.col("mu")
        ).alias("e"),
    )
    agg = j.agg(
        F.count(F.lit(1)).cast("double").alias("n_cells"),
        F.countDistinct("r").cast("double").alias("nr"),
        F.countDistinct("cc").cast("double").alias("nc"),
        F.sum(F.col("e") * F.col("e")).alias("ss_resid"),
        F.sum(F.col("e") * F.col("a") * F.col("b")).alias("s_eab"),
        F.sum(
            F.col("a") * F.col("a") * F.col("b") * F.col("b")
        ).alias("s_a2b2"),
    )
    ss_nonadd = (
        F.col("s_eab") * F.col("s_eab") / F.col("s_a2b2")
    )
    df_resid = (F.col("nr") - 1) * (F.col("nc") - 1)
    denom = (F.col("ss_resid") - ss_nonadd) / (df_resid - 1)
    # a PERFECT multiplicative layout leaves zero residual after the
    # Tukey term (denom 0): F undefined, verdict still positive
    f_stat = F.when(denom > 0, ss_nonadd / denom)
    return agg.select(
        F.col("n_cells").cast("bigint").alias("n_cells"),
        F.round("ss_resid", 6).alias("ss_resid"),
        F.round(ss_nonadd, 6).alias("ss_nonadditivity"),
        F.round(f_stat, 6).alias("f_stat"),
        F.coalesce(
            f_stat > 3.92, ss_nonadd > 1e-9
        ).alias("needs_interaction_95"),
    )


def sbg_retention_forecast(
    df: DataFrame,
    unit_col: str,
    period_col,
    horizon: int = 8,
) -> DataFrame:
    """Shifted-beta-geometric retention (Fader-Hardie): fit alpha,
    beta in closed form from the first two observed retention rates
    (r1 = beta/(alpha+beta), r2/r1 = (beta+1)/(alpha+beta+1)) and
    project the whole retention curve r(t) = (beta+t-1)/(alpha+
    beta+t-1) — the churn model whose 'retention RISES with tenure'
    shape a constant-rate geometric cannot produce.

    Cohort survival counts are one keyed aggregate; the projection
    is a bounded horizon explode.
    """
    alive = df.groupBy(period_col.cast("int").alias("t")).agg(
        F.countDistinct(unit_col).cast("double").alias("n")
    )
    n0 = alive.filter(F.col("t") == 0).select(
        F.col("n").alias("c0")
    )
    n1 = alive.filter(F.col("t") == 1).select(F.col("n").alias("c1"))
    n2 = alive.filter(F.col("t") == 2).select(F.col("n").alias("c2"))
    base = n0.crossJoin(n1).crossJoin(n2).select(
        "c0", "c1", "c2",
        (F.col("c1") / F.col("c0")).alias("r1"),
        (F.col("c2") / F.col("c1")).alias("r2"),
    )
    # r1 = b/(a+b); r2 = (b+1)/(a+b+1)  =>
    # a = (1-r1)(1-r2)/(r2-r1); b = r1(1-r2)/(r2-r1)
    # r1 == r2 exactly (homogeneous cohort) leaves the system
    # unidentified: NULL via nullif, never a division error
    den = F.nullif(F.col("r2") - F.col("r1"), F.lit(0.0))
    a_ = (1 - F.col("r1")) * (1 - F.col("r2")) / den
    b_ = F.col("r1") * (1 - F.col("r2")) / den
    spark = df.sparkSession
    hs = spark.range(1, horizon + 1).select(
        F.col("id").cast("double").alias("t")
    )
    j = base.crossJoin(hs)
    # survival S(t) = prod_{k=1..t} (b+k-1)/(a+b+k-1)
    #             = B(a, b+t)/B(a, b) — use the product form via
    # exp(sum log) over the bounded k grid per t: closed form with
    # lgamma unavailable, so expand the telescoping product directly
    surv = F.exp(
        F.aggregate(
            F.sequence(F.lit(1), F.col("t").cast("int")),
            F.lit(0.0),
            lambda acc, k: acc
            + F.log(
                (b_ + k.cast("double") - 1)
                / (a_ + b_ + k.cast("double") - 1)
            ),
        )
    )
    ret = (b_ + F.col("t") - 1) / (a_ + b_ + F.col("t") - 1)
    return j.select(
        F.col("t").cast("bigint").alias("t"),
        F.round(a_, 6).alias("alpha"),
        F.round(b_, 6).alias("beta"),
        F.round(ret, 6).alias("retention_rate"),
        F.round(surv, 6).alias("survival"),
    ).orderBy("t")


def bland_altman(
    df: DataFrame,
    m1_col,
    m2_col,
) -> DataFrame:
    """Bland-Altman agreement between two measurement methods: mean
    bias, the 95% limits of agreement (bias +/- 1.96 sd of the
    differences), and the share of pairs outside them — the
    correct 'do these two agree' analysis where correlation
    famously misleads.

    One moment pass + one share pass (the limits depend on the
    global moments, so the outside-share needs the second pass —
    both are map-side partial aggregates).
    """
    base = df.select(
        m1_col.cast("double").alias("x"), m2_col.cast("double").alias("y")
    ).select(
        (F.col("x") - F.col("y")).alias("d"),
        ((F.col("x") + F.col("y")) / 2).alias("m"),
    ).localCheckpoint(eager=True)
    st = base.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.avg("d").alias("bias"),
        F.sum(F.col("d") * F.col("d")).alias("sdd"),
        F.sum("d").alias("sd1"),
    ).select(
        "n", "bias",
        F.sqrt(
            (F.col("sdd") - F.col("sd1") * F.col("sd1") / F.col("n"))
            / (F.col("n") - 1)
        ).alias("sd"),
    )
    j = base.crossJoin(st)
    lo = F.col("bias") - 1.96 * F.col("sd")
    hi = F.col("bias") + 1.96 * F.col("sd")
    return j.agg(
        F.max("n").cast("bigint").alias("n_pairs"),
        F.round(F.max("bias"), 6).alias("mean_bias"),
        F.round(F.max("sd"), 6).alias("sd_diff"),
        F.round(F.max(lo), 6).alias("loa_lower"),
        F.round(F.max(hi), 6).alias("loa_upper"),
        F.round(
            F.avg(
                ((F.col("d") < lo) | (F.col("d") > hi)).cast("double")
            ),
            6,
        ).alias("outside_loa_share"),
    )


def yuen_trimmed_t(
    df: DataFrame,
    group_col,
    value_col,
    trim: float = 0.2,
) -> DataFrame:
    """Yuen's t-test on 20%-trimmed means with winsorized variances:
    the two-sample location test that keeps its nominal error rate
    under heavy tails, where Student's t silently loses power.

    Trim boundaries are exact count-logic quantiles per group on the
    cents grid; trimmed/winsorized moments are grid aggregates with
    the boundary cells partially weighted (exact, no row sampling).
    Emits the trimmed difference, Yuen SE, t, and approximate df.
    """
    g = df.select(
        group_col.cast("int").alias("grp"),
        F.round(value_col.cast("double") * 100).cast("long").alias("v"),
    ).groupBy("grp", "v").agg(
        F.count(F.lit(1)).cast("double").alias("c")
    ).localCheckpoint(eager=True)
    tot = g.groupBy("grp").agg(F.sum("c").alias("n"))
    wc = Window.partitionBy("grp").orderBy("v").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = g.select(
        "grp", "v", "c", F.sum("c").over(wc).alias("cumhi")
    ).join(tot, "grp").select(
        "grp", "v", "c", "n",
        (F.col("cumhi") - F.col("c")).alias("cumlo"),
    )
    glo = F.ceil(F.col("n") * trim)        # rows trimmed per tail
    # winsorized weight of each cell: clip the rank interval
    lo_k = glo
    hi_k = F.col("n") - glo
    inner = (
        F.least(F.col("cumlo") + F.col("c"), hi_k)
        - F.greatest(F.col("cumlo"), lo_k)
    )
    w_in = F.greatest(inner, F.lit(0.0))
    # winsorization: rows below lo_k take the value at the lo_k-th
    # rank; implement by adding clipped mass at the boundary cells
    low_mass = F.greatest(
        F.least(F.col("cumlo") + F.col("c"), lo_k) - F.col("cumlo"),
        F.lit(0.0),
    )
    high_mass = F.greatest(
        F.col("cumlo") + F.col("c")
        - F.greatest(F.col("cumlo"), hi_k),
        F.lit(0.0),
    )
    # boundary values per group
    lo_val = cum.filter(
        F.col("cumlo") + F.col("c") > glo
    ).groupBy("grp").agg(F.min("v").alias("vlo"))
    hi_val = cum.filter(
        F.col("cumlo") < hi_k
    ).groupBy("grp").agg(F.max("v").alias("vhi"))
    z = cum.join(lo_val, "grp").join(hi_val, "grp").select(
        "grp", "n", "v",
        w_in.alias("wi"), low_mass.alias("wl"), high_mass.alias("wh"),
        "vlo", "vhi",
    )
    # winsorized value contribution
    contrib = (
        F.col("wi") * F.col("v")
        + F.col("wl") * F.col("vlo")
        + F.col("wh") * F.col("vhi")
    )
    contrib2 = (
        F.col("wi") * F.col("v") * F.col("v")
        + F.col("wl") * F.col("vlo") * F.col("vlo")
        + F.col("wh") * F.col("vhi") * F.col("vhi")
    )
    per = z.groupBy("grp").agg(
        F.max("n").alias("n"),
        F.sum(F.col("wi") * F.col("v")).alias("tsum"),
        F.sum("wi").alias("tn"),
        F.sum(contrib).alias("wsum"),
        F.sum(contrib2).alias("wsum2"),
    ).select(
        "grp", "n", "tn",
        (F.col("tsum") / F.col("tn")).alias("tmean"),
        (
            (
                F.col("wsum2")
                - F.col("wsum") * F.col("wsum") / F.col("n")
            ) / (F.col("n") - 1)
        ).alias("wvar"),
    )
    p0 = per.filter(F.col("grp") == 0).select(
        *[F.col(c).alias(c + "0") for c in ["n", "tn", "tmean", "wvar"]]
    )
    p1 = per.filter(F.col("grp") == 1).select(
        *[F.col(c).alias(c + "1") for c in ["n", "tn", "tmean", "wvar"]]
    )
    j = p0.crossJoin(p1)
    d0 = (F.col("n0") - 1) * F.col("wvar0") / (
        F.col("tn0") * (F.col("tn0") - 1)
    )
    d1 = (F.col("n1") - 1) * F.col("wvar1") / (
        F.col("tn1") * (F.col("tn1") - 1)
    )
    se = F.sqrt(d0 + d1)
    t = (F.col("tmean1") - F.col("tmean0")) / se
    dof = F.pow(d0 + d1, 2) / (
        d0 * d0 / (F.col("tn0") - 1) + d1 * d1 / (F.col("tn1") - 1)
    )
    return j.select(
        F.col("n0").cast("bigint").alias("n_x"),
        F.col("n1").cast("bigint").alias("n_y"),
        F.round((F.col("tmean1") - F.col("tmean0")) / 100, 6)
        .alias("trimmed_diff"),
        F.round(se / 100, 6).alias("yuen_se"),
        F.round(t, 6).alias("t_stat"),
        F.round(dof, 2).alias("approx_df"),
        (F.abs(t) > 1.96).alias("significant_95"),
    )


def ruin_probability(
    df: DataFrame,
    claim_col,
    window_s_col,
    premium_rate: float,
    reserves: list,
) -> DataFrame:
    """Cramér-Lundberg ruin probability with exponential claims:
    psi(u) = (1/(1+theta)) exp(-theta u / ((1+theta) mu)) where
    theta = c/(lambda mu) - 1 is the safety loading — for a given
    error-budget 'reserve', the probability the claims process ever
    exhausts it.  The closed-form capacity question behind every
    'how much headroom do we need' debate.

    lambda and mu from one aggregate over the claim stream; the
    reserve grid is a bounded literal.
    """
    a = df.agg(
        F.count(F.lit(1)).cast("double").alias("nclaims"),
        F.avg(claim_col.cast("double")).alias("mu"),
        F.max(window_s_col.cast("double")).alias("t"),
    ).select(
        "nclaims", "mu", "t",
        (F.col("nclaims") / F.col("t")).alias("lam"),
    )
    spark = df.sparkSession
    uarr = F.array(*[F.lit(float(u)) for u in reserves])
    grid = spark.range(len(reserves)).select(
        F.element_at(uarr, F.col("id").cast("int") + 1).alias("u")
    )
    j = a.crossJoin(grid)
    theta = premium_rate / (F.col("lam") * F.col("mu")) - 1
    psi = F.when(
        theta > 0,
        (1 / (1 + theta))
        * F.exp(
            -theta * F.col("u") / ((1 + theta) * F.col("mu"))
        ),
    ).otherwise(F.lit(1.0))
    return j.select(
        F.round("u", 2).alias("reserve_u"),
        F.col("nclaims").cast("bigint").alias("n_claims"),
        F.round("mu", 4).alias("mean_claim"),
        F.round("lam", 6).alias("claim_rate_per_s"),
        F.round(theta, 6).alias("safety_loading"),
        F.round(psi, 6).alias("ruin_probability"),
    ).orderBy("reserve_u")


def topsis_ranking(
    df: DataFrame,
    alt_col: str,
    crit_col: str,
    value_col,
    benefit_flags: dict,
) -> DataFrame:
    """Entropy-weighted TOPSIS multi-criteria ranking over a bounded
    alternative x criteria matrix: criteria weights from Shannon
    entropy of the normalized columns (high-contrast criteria earn
    weight), distances to the ideal and anti-ideal, closeness = d- /
    (d+ + d-) — the principled 'rank services on latency AND errors
    AND volume' aggregator.

    Matrix, normalizations, entropies, and distances are all keyed
    aggregates over the bounded matrix; benefit_flags marks which
    criteria are larger-is-better.
    """
    cells = df.groupBy(
        F.col(alt_col).alias("alt"), F.col(crit_col).alias("crit")
    ).agg(F.sum(value_col.cast("double")).alias("x"))
    colnorm = cells.groupBy("crit").agg(
        F.sqrt(F.sum(F.col("x") * F.col("x"))).alias("nrm"),
        F.sum("x").alias("colsum"),
        F.count(F.lit(1)).cast("double").alias("m"),
    )
    r = cells.join(colnorm, "crit").select(
        "alt", "crit",
        (F.col("x") / F.col("nrm")).alias("r"),
        (F.col("x") / F.col("colsum")).alias("p"),
        "m",
    )
    ent = r.groupBy("crit").agg(
        (
            -F.sum(
                F.when(
                    F.col("p") > 0, F.col("p") * F.log("p")
                ).otherwise(0.0)
            ) / F.log(F.max("m"))
        ).alias("e")
    ).select("crit", (1 - F.col("e")).alias("d"))
    wsum = ent.agg(F.sum("d").alias("sd"))
    wts = ent.crossJoin(wsum).select(
        "crit", (F.col("d") / F.col("sd")).alias("w")
    )
    v = r.join(wts, "crit").select(
        "alt", "crit", (F.col("r") * F.col("w")).alias("v")
    )
    flags = [
        (c, 1 if b else 0) for c, b in sorted(benefit_flags.items())
    ]
    spark = df.sparkSession
    fl = spark.range(len(flags)).select(
        F.element_at(
            F.array(*[F.lit(c) for c, _ in flags]),
            F.col("id").cast("int") + 1,
        ).alias("crit"),
        F.element_at(
            F.array(*[F.lit(b) for _, b in flags]),
            F.col("id").cast("int") + 1,
        ).alias("benefit"),
    )
    vb = v.join(fl, "crit")
    ideal = vb.groupBy("crit").agg(
        F.max(
            F.when(F.col("benefit") == 1, F.col("v"))
            .otherwise(-F.col("v"))
        ).alias("best_signed"),
        F.min(
            F.when(F.col("benefit") == 1, F.col("v"))
            .otherwise(-F.col("v"))
        ).alias("worst_signed"),
        F.max("benefit").alias("benefit"),
    ).select(
        "crit",
        F.when(
            F.col("benefit") == 1, F.col("best_signed")
        ).otherwise(-F.col("best_signed")).alias("vplus"),
        F.when(
            F.col("benefit") == 1, F.col("worst_signed")
        ).otherwise(-F.col("worst_signed")).alias("vminus"),
    )
    d = vb.join(ideal, "crit").groupBy("alt").agg(
        F.sqrt(
            F.sum(F.pow(F.col("v") - F.col("vplus"), 2))
        ).alias("dplus"),
        F.sqrt(
            F.sum(F.pow(F.col("v") - F.col("vminus"), 2))
        ).alias("dminus"),
    )
    closeness = F.col("dminus") / (F.col("dplus") + F.col("dminus"))
    wr = Window.orderBy(F.desc("closeness"), F.asc("alt"))
    return d.select(
        "alt",
        F.round("dplus", 6).alias("d_ideal"),
        F.round("dminus", 6).alias("d_anti"),
        F.round(closeness, 6).alias("closeness"),
    ).select(
        "*", F.row_number().over(wr).cast("int").alias("rank")
    ).orderBy("rank")


def hawkes_branching_ratio(
    df: DataFrame,
    group_col: str,
    bucket_col,
) -> DataFrame:
    """Hawkes branching-ratio moment estimate per stream: for a
    self-exciting process the windowed-count Fano factor satisfies
    F -> 1/(1-n)^2, so n = 1 - 1/sqrt(F) — what FRACTION of events
    are echoes of earlier events rather than exogenous arrivals (the
    retry-storm endogeneity number, one step past burstiness_fano's
    raw F).

    One bucket-count aggregate + one moment reduction per group;
    sub-Poisson streams (F < 1) clamp to 0.
    """
    cnt = df.groupBy(
        F.col(group_col).alias("g"), bucket_col.alias("b")
    ).agg(F.count(F.lit(1)).cast("double").alias("x"))
    a = cnt.groupBy("g").agg(
        F.count(F.lit(1)).cast("double").alias("nb"),
        F.avg("x").alias("mu"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    ).select(
        "g", "nb", "mu",
        (
            (F.col("sxx") / F.col("nb") - F.col("mu") * F.col("mu"))
            / F.col("mu")
        ).alias("fano"),
    )
    n_hat = F.when(
        F.col("fano") > 0,
        F.greatest(F.lit(0.0), 1 - 1 / F.sqrt(F.col("fano"))),
    ).otherwise(F.lit(0.0))
    return a.select(
        F.col("g").alias(group_col),
        F.col("nb").cast("bigint").alias("n_buckets"),
        F.round("mu", 4).alias("mean_per_bucket"),
        F.round("fano", 6).alias("fano_factor"),
        F.round(n_hat, 6).alias("branching_ratio"),
        F.round(1 / (1 - n_hat), 4).alias("cascade_multiplier"),
    ).orderBy(group_col)


def taylor_fluctuation_scaling(
    df: DataFrame,
    group_col: str,
    bucket_col,
) -> DataFrame:
    """Taylor's power law (fluctuation scaling): across streams,
    var = a * mean^b; the log-log OLS slope b diagnoses the
    aggregation regime (b=1 Poisson-independent, b=2 fully
    synchronized/clustered) — one number for 'do my streams burst
    together or independently'.

    Per-group bucket-count moments, then a closed-form log-log OLS
    over the bounded group table.
    """
    cnt = df.groupBy(
        F.col(group_col).alias("g"), bucket_col.alias("b")
    ).agg(F.count(F.lit(1)).cast("double").alias("x"))
    gm = cnt.groupBy("g").agg(
        F.avg("x").alias("mu"),
        (
            F.sum(F.col("x") * F.col("x")) / F.count(F.lit(1))
            - F.avg("x") * F.avg("x")
        ).alias("var"),
    ).filter((F.col("mu") > 0) & (F.col("var") > 0)).select(
        "g", F.log("mu").alias("lx"), F.log("var").alias("ly")
    )
    a = gm.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.avg("lx").alias("mx"), F.avg("ly").alias("my"),
        F.avg(F.col("lx") * F.col("ly")).alias("mxy"),
        F.avg(F.col("lx") * F.col("lx")).alias("mxx"),
    )
    b = (F.col("mxy") - F.col("mx") * F.col("my")) / (
        F.col("mxx") - F.col("mx") * F.col("mx")
    )
    return a.select(
        F.col("n").cast("bigint").alias("n_streams"),
        F.round(b, 6).alias("taylor_b"),
        F.round(F.exp(F.col("my") - b * F.col("mx")), 6).alias(
            "taylor_a"
        ),
        F.when(b < 1.3, F.lit("poisson-like"))
        .when(b < 1.7, F.lit("intermediate"))
        .otherwise(F.lit("synchronized")).alias("regime"),
    )


def jackknife_richness(
    df: DataFrame,
    group_col: str,
    species_col: str,
) -> DataFrame:
    """First- and second-order jackknife species-richness estimates
    per group: S1 = S + f1(n-1)/n, S2 = S + f1(2n-3)/n -
    f2(n-2)^2/(n(n-1)) — the nonparametric 'how much vocabulary
    have we NOT seen yet' pair beside the Chao1 entry (jackknife is
    less biased when doubletons are noisy).
    """
    sp = df.groupBy(
        F.col(group_col).alias("g"), F.col(species_col).alias("sp")
    ).agg(F.count(F.lit(1)).cast("double").alias("c"))
    a = sp.groupBy("g").agg(
        F.count(F.lit(1)).cast("double").alias("s_obs"),
        F.sum("c").alias("n"),
        F.sum((F.col("c") == 1).cast("double")).alias("f1"),
        F.sum((F.col("c") == 2).cast("double")).alias("f2"),
    )
    s1 = F.col("s_obs") + F.col("f1") * (F.col("n") - 1) / F.col("n")
    s2 = (
        F.col("s_obs")
        + F.col("f1") * (2 * F.col("n") - 3) / F.col("n")
        - F.col("f2") * F.pow(F.col("n") - 2, 2)
        / (F.col("n") * (F.col("n") - 1))
    )
    return a.select(
        F.col("g").alias(group_col),
        F.col("s_obs").cast("bigint").alias("s_observed"),
        F.col("f1").cast("bigint").alias("singletons"),
        F.col("f2").cast("bigint").alias("doubletons"),
        F.round(s1, 4).alias("jackknife1"),
        F.round(s2, 4).alias("jackknife2"),
        F.round(
            F.col("s_obs") / s1, 6
        ).alias("coverage_vs_jk1"),
    ).orderBy(group_col)


def seasonal_sen_slope(
    df: DataFrame,
    season_col: str,
    order_col: str,
    value_col: str,
) -> DataFrame:
    """Seasonal Sen slope: the median of WITHIN-season pairwise
    slopes (x_j - x_i)/(o_j - o_i) — the magnitude estimate that
    goes with the seasonal Mann-Kendall verdict, robust to outliers
    and immune to the daily cycle.

    Pairwise slopes live on the bounded within-season rollup grid
    (the repo's documented pairwise contract); the median is one
    cumulative window over the collected slope values.
    """
    s = df.select(
        F.col(season_col).alias("g"),
        F.col(order_col).cast("double").alias("o"),
        F.col(value_col).cast("double").alias("x"),
    )
    a = s.select("g", F.col("o").alias("oi"), F.col("x").alias("xi"))
    b = s.select("g", F.col("o").alias("oj"), F.col("x").alias("xj"))
    slopes = a.join(b, "g").filter(F.col("oi") < F.col("oj")).select(
        F.round(
            (F.col("xj") - F.col("xi")) / (F.col("oj") - F.col("oi")),
            9,
        ).alias("sl")
    )
    grid = slopes.groupBy("sl").agg(
        F.count(F.lit(1)).cast("double").alias("c")
    )
    tot = grid.agg(F.sum("c").alias("n"))
    wc = Window.orderBy("sl").rowsBetween(
        Window.unboundedPreceding, 0
    )
    med = grid.select(
        "sl", F.sum("c").over(wc).alias("cum")
    ).crossJoin(tot).filter(
        F.col("cum") * 2 >= F.col("n")
    ).agg(F.min("sl").alias("sen"))
    return med.crossJoin(tot).select(
        F.col("n").cast("bigint").alias("n_pairs"),
        F.round("sen", 6).alias("sen_slope_per_period"),
    )


def abc_classification(
    df: DataFrame,
    item_col: str,
    value_col,
    a_cut: float = 0.8,
    b_cut: float = 0.95,
) -> DataFrame:
    """ABC (Pareto) classification: rank items by value share, class
    A until the cumulative share crosses ``a_cut``, B until
    ``b_cut``, C after — the operational artifact behind 'these 12
    conversations are 80% of the spend'.

    One keyed aggregate, one rank/cumulative window on the bounded
    item table, class roll-up emitted (class, items, share).
    """
    items = df.groupBy(F.col(item_col).alias("item")).agg(
        F.sum(value_col.cast("double")).alias("v")
    )
    tot = items.agg(F.sum("v").alias("t"))
    w = Window.orderBy(F.desc("v"), F.asc("item")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    ranked = items.crossJoin(tot).select(
        "item", "v",
        (F.sum("v").over(w) / F.col("t")).alias("cumshare"),
        (F.col("v") / F.col("t")).alias("share"),
    ).select(
        "item", "v", "share",
        F.when(
            F.col("cumshare") - F.col("share") < a_cut, F.lit("A")
        ).when(
            F.col("cumshare") - F.col("share") < b_cut, F.lit("B")
        ).otherwise(F.lit("C")).alias("abc"),
    )
    return ranked.groupBy("abc").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_items"),
        F.round(F.sum("share"), 6).alias("value_share"),
        F.round(F.min("v"), 2).alias("min_value"),
    ).orderBy("abc")
