"""Aggregation stage: count/sum connector analogs.

The reference's count connector counts records flowing through, grouped
by configured attributes, and emits count metrics
(internal/components/components.go:344; docs/components.md).  The
north rule fixes our grouping: per-sink counts by **conv_id bucket,
role, tool, and 1-minute ts window** — i.e.
``groupBy(window(ts, '1 minute'), conv_bucket, role, tool, sink)``.

The batch processor's ``metadata_keys`` partitioning
(agent_config.yaml:119-121) is the precedent for grouping by a bucketed
key rather than the raw key: we bucket conv_id into ``n_buckets`` hash
buckets, which simultaneously (a) bounds output cardinality and (b)
de-skews the Zipf head — a hot conversation shares its bucket but the
window dimension splits its rows across time.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

N_CONV_BUCKETS = 16


def conv_bucket(col: str = "conv_id", n_buckets: int = N_CONV_BUCKETS):
    """Deterministic hash bucket of conv_id (xxhash64, stable across
    runs/partitionings — unlike monotonically_increasing_id)."""
    return F.pmod(F.xxhash64(F.col(col)), F.lit(n_buckets)).cast("int")


def count_connector(df: DataFrame) -> DataFrame:
    """Per-sink grouped counts (the north rule's agg_counts output).

    Output: (sink, conv_bucket, role, tool, window_start, n) — FIXTURES
    §5.4, over 1-minute windows and ``N_CONV_BUCKETS`` conv_id buckets.
    One shuffle; Catalyst does map-side partial counts, so the reduce
    side receives at most |groups| × map-partitions rows.
    """
    return df.groupBy(
        "sink",
        conv_bucket().alias("conv_bucket"),
        "role",
        "tool",
        F.window("ts", "1 minute").start.alias("window_start"),
    ).agg(F.count("*").alias("n"))


def sum_connector(
    df: DataFrame, value_col: str, keys: list[str]
) -> DataFrame:
    """Sum connector analog (components.go:348): sum a numeric attribute
    grouped by attributes."""
    return df.groupBy(*keys).agg(F.sum(value_col).alias("total"))


def count_conditions(
    df: DataFrame, conditions: dict[str, str], keys: list[str]
) -> DataFrame:
    """Multi-condition count connector: the reference's count connector
    emits SEVERAL named count metrics, each gated by its own OTTL
    condition list, in one pass over the stream
    (connector/countconnector docs; components.go:344).  Re-expressed
    as conditional aggregation: one ``sum(cast(cond as long))`` per
    named metric — a single shuffle with map-side partials, never one
    pass per metric.

    ``conditions`` maps metric name -> boolean SQL expression (the
    compiled OTTL condition, same surface as ``route.compile_rule``).
    """
    aggs = [
        F.sum(F.expr(cond).cast("long")).alias(name)
        for name, cond in conditions.items()
    ]
    return df.groupBy(*keys).agg(*aggs)


def session_window_counts(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str = "ts",
    gap: str = "30 minutes",
) -> DataFrame:
    """Gap-based sessionization with Spark's NATIVE session window
    (``F.session_window``) — the batch twin of the streaming
    sessionizer in ``streaming/pipeline.py``: events of one key merge
    into a session while each is within ``gap`` of the session's end.

    This is the built-in operator path (Catalyst plans a single
    keyed aggregation with session merge — no window-function
    self-scan, no Python).  Output: one row per session with start,
    end-of-activity, and event count.
    """
    return (
        df.groupBy(*key_cols, F.session_window(F.col(ts_col), gap).alias("sw"))
        .agg(
            F.count("*").alias("n_events"),
            F.min(ts_col).alias("first_ts"),
            F.max(ts_col).alias("last_ts"),
        )
        .select(
            *key_cols,
            F.col("sw.start").alias("session_start"),
            "n_events",
            "first_ts",
            "last_ts",
        )
    )


def time_rollup_pyramid(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    key_cols: list[str],
    levels: list[str] = ("minute", "hour", "day"),
) -> DataFrame:
    """Multi-resolution rollup pyramid (the signalfx backend's rollup
    hierarchy / hypertable continuous-aggregate shape): counts, sums
    and min/max at every time resolution in ONE grouping-sets pass —
    Catalyst scans the input once and feeds all granularities from the
    same map-side partials, instead of one scan per level.

    Each output row carries its ``resolution`` and the truncated
    ``bucket_ts``; finer levels roll up into coarser ones exactly
    (sum/min/max are decomposable), which is what lets a chart query
    read the coarsest level that satisfies its zoom.
    """
    truncs = [
        F.date_trunc(lv, F.col(ts_col)).alias(f"_t_{lv}") for lv in levels
    ]
    base = df.select(*key_cols, F.col(value_col).alias("_v"), *truncs)
    tcols = [f"_t_{lv}" for lv in levels]
    agg = base.groupingSets(
        [[*key_cols, t] for t in tcols],
        *[F.col(c) for c in (*key_cols, *tcols)],
    ).agg(
        F.count("*").alias("n"),
        F.sum("_v").alias("total"),
        F.min("_v").alias("vmin"),
        F.max("_v").alias("vmax"),
        # grouping() indicators (0 = column is in this grouping set)
        # must be computed inside the aggregate, then consumed below
        *[F.grouping(t).alias(f"_g{t}") for t in tcols],
    )
    # resolution comes from the grouping() indicators, NOT the NULL-ness
    # of the trunc columns — a NULL input ts makes every trunc NULL, and
    # coalescing them would conflate value-NULL with rollup-NULL (the
    # NULL-ts minute row would silently claim a coarser resolution).
    res = F.coalesce(
        *[
            F.when(F.col(f"_g{t}") == 0, F.lit(lv))
            for lv, t in zip(levels, tcols)
        ]
    )
    bucket = F.coalesce(
        *[F.when(F.col(f"_g{t}") == 0, F.col(t)) for t in tcols]
    )
    return agg.select(
        *key_cols,
        res.alias("resolution"),
        bucket.alias("bucket_ts"),
        "n",
        "total",
        "vmin",
        "vmax",
    )


def merge_partial_aggs(
    parts: list[DataFrame],
    group_cols: list[str],
) -> DataFrame:
    """Merge pre-aggregated partials into the exact global aggregate
    (the algebraic-aggregate law incremental pipelines live on: each
    snapshot/epoch aggregates alone, merges combine — the same
    contract ``job.py``'s resume path uses for its count tables).

    Every partial carries ``(n, total, vmin, vmax)``; the merge is
    one grouped pass over the UNION of partials — counts/sums add,
    min/max fold, and avg derives from the merged sums (never
    averaged averages).  Decimal totals, so the merge is bit-equal to
    a from-scratch aggregate on any engine.
    """
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    merged = u.groupBy(*group_cols).agg(
        F.sum("n").alias("n"),
        F.sum("total").alias("total"),
        F.min("vmin").alias("vmin"),
        F.max("vmax").alias("vmax"),
    )
    return merged.select(
        *group_cols,
        "n",
        F.round(F.col("total").cast("double"), 4).alias("total"),
        "vmin",
        "vmax",
        F.round(
            F.col("total").cast("double") / F.col("n").cast("double"), 6
        ).alias("avg"),
    )


def partial_agg(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
) -> DataFrame:
    """One partial for :func:`merge_partial_aggs`: per-group
    ``(n, decimal total, vmin, vmax)`` over this slice."""
    v = F.col(value_col)
    return df.groupBy(*group_cols).agg(
        F.count("*").alias("n"),
        F.sum(v.cast("decimal(28,6)")).alias("total"),
        F.min(v).alias("vmin"),
        F.max(v).alias("vmax"),
    )
