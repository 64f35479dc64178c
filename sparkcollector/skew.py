"""Partitioning, ordering, and skew mitigation helpers.

North-rule requirements made explicit here:

* **stable turn ordering** — ``job.build_pipeline`` does
  ``repartition(conv_id)`` +
  ``sortWithinPartitions(conv_id, turn_idx)`` before sink writes, so
  the per-turn text sequence is deterministic across runs and across
  parallelism levels (local[8] vs local[32]); ordering comes from the
  sort, never from task scheduling (SURVEY.md §7.3 hard part 2).
* **salting** — hot conv_ids (Zipf head) would serialize a grouped
  aggregation; two-phase salted aggregation spreads a hot key over
  ``n_salts`` reducers then combines (SURVEY.md §4.2; the reference's
  analog is batching keyed by token / client IP,
  agent_config.yaml:119-121, converter/traces.go:34-50).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def ensure_parallelism(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Round-robin repartition iff the scan under-splits.

    A small parquet table arrives as 1-2 file splits, serializing any
    compute-heavy downstream stage onto one task.  At 100 TB the scan
    produces thousands of splits and this is a no-op; locally it
    restores parallelism for CPU-bound operators (shingling, hashing).
    """
    target = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


def with_salt(df: DataFrame, key: str, n_salts: int = 16) -> DataFrame:
    """Derive a deterministic salt from a *secondary* column so the
    same logical key spreads over ``n_salts`` reducer buckets."""
    # salt from turn_idx (uniform within a conversation) — deterministic,
    # no rand() (rand breaks retry idempotence and cross-run equality).
    return df.withColumn("_salt", F.pmod(F.col("turn_idx"), F.lit(n_salts)))


def salted_count(
    df: DataFrame, keys: list[str | Column], n_salts: int = 16
) -> DataFrame:
    """Two-phase grouped count robust to hot keys.

    Phase 1 groups by (keys, salt) — a hot key's rows land on up to
    ``n_salts`` reducers; phase 2 sums the partial counts per key.
    Catalyst's partial hash aggregation already does map-side combine,
    so this matters when a single key's *reduce* side is the bottleneck
    (one straggler task owning the whole Zipf head).
    """
    salted = with_salt(df, "", n_salts)
    partial = salted.groupBy(*keys, "_salt").agg(F.count("*").alias("_partial"))
    return partial.groupBy(*keys).agg(F.sum("_partial").alias("n"))


def salted_join(
    facts: DataFrame,
    dim: DataFrame,
    key: str,
    n_salts: int = 16,
    salt_from: str | None = None,
) -> DataFrame:
    """Skew-robust equi-join: replicate each dim row ``n_salts`` times
    and spread the fact side's hot keys across the replicas — the
    classic salted join for when ONE key owns a Zipf head so large
    that even AQE's skew-split leaves a straggler (its splits still
    hash-collide on the single dim row's reducer).

    The fact salt is DETERMINISTIC (xxhash64 of ``salt_from``, a
    secondary column that varies within a key — e.g. turn_idx — never
    ``rand()``, which breaks retry idempotence); the dim side explodes
    ``sequence(0, n_salts-1)``, multiplying only the SMALL side.
    Result rows equal the plain join exactly.
    """
    if salt_from is None:
        # a salt derived from the join key itself is CONSTANT per key
        # and silently defeats the whole mitigation (the hot key still
        # lands on one reducer while the dim side pays n_salts x);
        # spread by the full row content instead.
        salt_src = F.xxhash64(*[F.col(c) for c in facts.columns])
    elif salt_from == key:
        raise ValueError(
            "salt_from must differ from the join key: xxhash64(key) is "
            "constant within a key and defeats the skew mitigation"
        )
    else:
        salt_src = F.xxhash64(F.col(salt_from))
    f = facts.withColumn(
        "_salt",
        F.pmod(salt_src, F.lit(n_salts)).cast("int"),
    )
    d = dim.withColumn(
        "_salt",
        F.explode(
            F.sequence(F.lit(0).cast("int"), F.lit(n_salts - 1).cast("int"))
        ),
    )
    return f.join(d, [key, "_salt"]).drop("_salt")


def zorder_key(x: Column, y: Column, bits: int = 16) -> Column:
    """Morton (Z-order) interleave of two non-negative integer columns
    — the space-filling-curve clustering key behind Iceberg/Delta
    Z-ORDER table layout: sorting by this key co-locates rows close in
    BOTH dimensions, so 2-D range predicates prune file-level min/max
    stats instead of scanning one dimension's stripes.

    Pure arithmetic fold over bit positions (shift via pow-of-two
    division — HOF lambdas can't take literal-only shiftleft), all
    JVM-side, zero shuffle.  ``bits`` per dimension; the key fits a
    long for bits <= 31.
    """
    def term(i: Column) -> Column:
        p = F.pow(F.lit(2.0), i.cast("double"))
        xbit = (F.floor(x.cast("double") / p).cast("long") % 2)
        ybit = (F.floor(y.cast("double") / p).cast("long") % 2)
        even = F.pow(F.lit(2.0), (i * 2).cast("double")).cast("long")
        odd = F.pow(F.lit(2.0), (i * 2 + 1).cast("double")).cast("long")
        return xbit * even + ybit * odd

    return F.aggregate(
        F.sequence(F.lit(0), F.lit(bits - 1)),
        F.lit(0).cast("long"),
        lambda acc, i: acc + term(i),
    )


def binpack_files(
    df: DataFrame,
    size_col: str,
    order_col: str,
    target_bytes: int,
    partition_col: str | None = None,
) -> DataFrame:
    """Compaction planning (Iceberg ``rewrite_data_files`` binPack
    strategy; the scheduling half of ``SnapshotCatalog.compact``):
    pack a file inventory, in deterministic ``order_col`` order, into
    rewrite groups of ~``target_bytes`` each — group id is
    ``floor(exclusive_prefix_sum / target)``, the cumulative-split
    rule, so a group exceeds the target by at most one file and a
    file larger than the target gets a group of its own.

    One ranked window per ``partition_col`` (the parallel unit — an
    engine plans compaction per partition exactly so one hot
    partition's window doesn't serialize the whole table); pure
    arithmetic after the prefix sum, no second shuffle.
    """
    pkeys = [partition_col] if partition_col else []
    w = (
        Window.partitionBy(*pkeys)
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prefix = F.coalesce(
        F.sum(F.col(size_col).cast("long")).over(w), F.lit(0).cast("long")
    )
    return df.withColumn(
        "group_id", F.floor(prefix / F.lit(target_bytes)).cast("long")
    )


def range_partition_bounds(
    df: DataFrame, col: str, k: int
) -> DataFrame:
    """Exact k-way range-partitioning boundaries — the deterministic
    twin of Spark's RangePartitioner sampling pass (a global sort /
    sortWithinPartitions layout decision starts here; Iceberg's
    sort-order writer makes the same choice).

    Boundary i (1..k-1) is the smallest value whose cumulative row
    count reaches ``ceil(i * total / k)`` — pure integer thresholds,
    so both engines agree bit-for-bit.

    Scale: ONE shuffle builds the per-value histogram (map-side
    combine collapses the fact table to distinct-value cardinality);
    the cumulative window then runs over that tiny table.  The
    single-partition window is bounded by DISTINCT VALUES of the sort
    key, not rows — the same argument as histogram-bucket ops.  At
    100 TB with a high-cardinality key, bucket the key first (the
    sampling RangePartitioner trades exactness for that; this
    operator is the exact tier).
    """
    hist = df.groupBy(col).agg(F.count("*").alias("_c"))
    w = (
        Window.orderBy(col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    total = hist.agg(F.sum("_c").alias("_total"))
    cum = (
        hist.withColumn("_cum", F.sum("_c").over(w))
        .crossJoin(F.broadcast(total))
    )
    i = F.col("boundary")
    thresh = F.ceil(i * F.col("_total") / F.lit(k))
    return (
        cum.select(
            F.explode(F.sequence(F.lit(1), F.lit(k - 1))).alias("boundary"),
            F.col(col).alias("bound"),
            "_c",
            "_cum",
            "_total",
        )
        .filter(
            (F.col("_cum") >= thresh) & (F.col("_cum") - F.col("_c") < thresh)
        )
        .select("boundary", "bound")
    )


def join_skew_report(
    left: DataFrame,
    right: DataFrame,
    key_col: str,
    k: int = 5,
) -> DataFrame:
    """Join-skew pre-flight report (run BEFORE a big join: which keys
    would explode?): per join key, both sides' row counts and the
    output-size estimate ``n_left * n_right``; the top-k offenders
    with their share of the total estimated output.

    Both sides collapse to per-key counts first (map-side partials),
    the key-keyed equi-join runs on those count tables, and the top-k
    is a TakeOrdered (heap per partition + driver merge), never a
    full sort.  This is the evidence that decides salting vs AQE
    skew-join vs broadcast.
    """
    lc = left.groupBy(key_col).agg(F.count("*").alias("n_left"))
    rc = right.groupBy(key_col).agg(F.count("*").alias("n_right"))
    j = lc.join(rc, key_col)
    est = (F.col("n_left") * F.col("n_right")).alias("est_rows")
    scored = j.select(key_col, "n_left", "n_right", est)
    total = scored.agg(F.sum("est_rows").alias("_tot"))
    return (
        scored.crossJoin(F.broadcast(total))
        .select(
            key_col,
            "n_left",
            "n_right",
            "est_rows",
            F.round(
                F.col("est_rows").cast("double") / F.col("_tot"), 6
            ).alias("share"),
        )
        .orderBy(F.col("est_rows").desc(), key_col)
        .limit(k)
    )


def partition_balance_report(
    df: DataFrame,
    key_col: str,
    n_partitions: int = 32,
    weight_col: Column | None = None,
) -> DataFrame:
    """Partition-balance pre-flight (how even would hash-partitioning
    on this key be? — the question behind every repartition() choice):
    simulate ``md5(key) % n`` placement and report per-partition rows
    and weight plus the corpus-level skew factor (max/mean — 1.0 is
    perfect).

    The md5 bucket is the engine-portable stand-in for Spark's
    murmur — the BALANCE conclusion transfers because both hashes
    spread uniformly; one keyed aggregate over the fact table,
    everything after runs on n_partitions rows.
    """
    part = (
        F.conv(
            F.substring(F.md5(F.col(key_col).cast("string")), 1, 8),
            16,
            10,
        ).cast("bigint")
        % n_partitions
    )
    wcol = weight_col if weight_col is not None else F.lit(1).cast("long")
    per = df.select(part.alias("partition"), wcol.alias("_w")).groupBy(
        "partition"
    ).agg(F.count("*").alias("n_rows"), F.sum("_w").alias("weight"))
    tot = per.agg(
        F.sum("weight").alias("_tw"),
        F.max("weight").alias("_mx"),
        F.count("*").alias("_np"),
    )
    return per.crossJoin(F.broadcast(tot)).select(
        "partition",
        "n_rows",
        "weight",
        F.round(
            F.col("weight").cast("double")
            / (F.col("_tw").cast("double") / F.col("_np")),
            6,
        ).alias("vs_mean"),
        F.round(
            F.col("_mx").cast("double")
            / (F.col("_tw").cast("double") / F.col("_np")),
            6,
        ).alias("skew_factor"),
    )


def join_strategy_advisor(
    left: DataFrame,
    right: DataFrame,
    key_col: str,
    left_bytes: Column,
    right_bytes: Column,
    broadcast_threshold: int = 64 * 1024 * 1024,
    skew_ratio: float = 8.0,
) -> DataFrame:
    """Join-strategy advisor (the decision table behind broadcast vs
    shuffle vs salt: sizes and skew, not vibes): one row with both
    sides' row/byte estimates, the hot-key skew ratio on the big
    side, and the recommended strategy —

      * ``broadcast_right`` / ``broadcast_left`` when a side fits
        the broadcast threshold,
      * ``shuffle_salted`` when neither fits and the larger side's
        hottest key exceeds ``skew_ratio`` x the mean key weight,
      * ``shuffle_hash`` otherwise.

    All inputs come from per-key aggregates (facts collapse before
    any global step); the rules are the same ones AQE applies at
    runtime — this is the PLAN-TIME version you can read in review.
    """
    def side_stats(df: DataFrame, bytes_col: Column):
        per = df.groupBy(key_col).agg(
            F.count("*").alias("_n"), F.sum(bytes_col).alias("_b")
        )
        return per.agg(
            F.sum("_n").alias("rows"),
            F.sum("_b").alias("bytes"),
            F.max("_n").alias("max_key_rows"),
            F.count("*").alias("n_keys"),
        )
    ls = side_stats(left, left_bytes).select(
        F.col("rows").alias("left_rows"),
        F.col("bytes").alias("left_bytes"),
        F.col("max_key_rows").alias("left_max_key"),
        F.col("n_keys").alias("left_keys"),
    )
    rs = side_stats(right, right_bytes).select(
        F.col("rows").alias("right_rows"),
        F.col("bytes").alias("right_bytes"),
        F.col("max_key_rows").alias("right_max_key"),
        F.col("n_keys").alias("right_keys"),
    )
    j = ls.crossJoin(rs)
    big_is_left = F.col("left_bytes") >= F.col("right_bytes")
    big_max = F.when(big_is_left, F.col("left_max_key")).otherwise(
        F.col("right_max_key")
    )
    big_rows = F.when(big_is_left, F.col("left_rows")).otherwise(
        F.col("right_rows")
    )
    big_keys = F.when(big_is_left, F.col("left_keys")).otherwise(
        F.col("right_keys")
    )
    mean_key = big_rows.cast("double") / big_keys
    skew = big_max.cast("double") / mean_key
    strategy = (
        F.when(
            F.col("right_bytes") <= broadcast_threshold,
            F.lit("broadcast_right"),
        )
        .when(
            F.col("left_bytes") <= broadcast_threshold,
            F.lit("broadcast_left"),
        )
        .when(skew > skew_ratio, F.lit("shuffle_salted"))
        .otherwise(F.lit("shuffle_hash"))
    )
    return j.select(
        "left_rows",
        "left_bytes",
        "right_rows",
        "right_bytes",
        F.round(skew, 6).alias("big_side_skew"),
        strategy.alias("strategy"),
    )


def zone_map_prune(
    df: DataFrame,
    block_col,
    value_col,
    probes: list[tuple[float, float]],
) -> DataFrame:
    """Zone-map (min/max) pruning audit — how much would the layout
    let a reader skip?

    Iceberg/parquet readers prune a file when its column min/max
    misses the predicate range; whether that helps depends entirely
    on LAYOUT (time-clustered files prune beautifully, hash-scattered
    ones never do — the measurable argument behind
    ``zorder_clustering_key`` and ``compaction_binpack``).  This
    audits it: per simulated block, min/max of the probe column; per
    probe range [lo, hi): the fraction of blocks a zone-map reader
    skips.  One block aggregate + a bounded probe cross join.
    """
    spark = df.sparkSession
    blocks = df.groupBy(block_col.alias("blk")).agg(
        F.min(value_col).alias("mn"), F.max(value_col).alias("mx")
    )
    # probe dim as Catalyst literals — no Python RDD scan in the plan
    pr = spark.range(1).select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("probe"),
                        F.lit(float(lo)).alias("lo"),
                        F.lit(float(hi)).alias("hi"),
                    )
                    for i, (lo, hi) in enumerate(probes)
                ]
            )
        ).alias("_e")
    ).select("_e.probe", "_e.lo", "_e.hi")
    j = blocks.crossJoin(pr)
    pruned = (F.col("mx") < F.col("lo")) | (F.col("mn") >= F.col("hi"))
    return j.groupBy("probe", "lo", "hi").agg(
        F.count(F.lit(1)).alias("n_blocks"),
        F.sum(pruned.cast("long")).alias("n_pruned"),
        F.round(
            F.sum(pruned.cast("long")) / F.count(F.lit(1)), 6
        ).alias("prune_frac"),
    )
