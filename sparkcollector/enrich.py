"""Enrichment: broadcast lookup joins on ``role`` and ``tool``.

The reference enriches every record with constant/extra dimensions held
in small in-memory maps — receiver extra dimensions win over datapoint
dims (reference: pkg/receiver/smartagentreceiver/output.go:256-259,
317-320), resource detection stamps host/cloud attrs
(agent_config.yaml:135-137), and k8s attributes are a metadata join.

Spark-first equivalent (SURVEY.md §2.5): keep the lookup tables tiny
and **broadcast** them, so the join is map-side with zero shuffle on
the 100 TB fact side.  The role and tool dimensions are in-memory local
relations (:func:`local_table`, a ``VALUES`` inline table): each plans
as a ``LocalTableScan``, so its broadcast is built in the JVM and no
Python worker runs for it.  The dimension-update side channel
(dimension.go:29-60, SCD upserts) is modeled by
:func:`apply_dim_updates`, the MERGE-INTO analog.
"""

from __future__ import annotations

from collections.abc import Sequence
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType
from pyspark.sql.window import Window

# FIXTURES.md §2/§3 lookup contents (deterministic fixtures).
ROLE_ATTRS = [
    ("user", "human", 1, "product"),
    ("assistant", "model", 2, "inference"),
    ("system", "orchestrator", 3, "platform"),
    ("tool", "plugin", 0, "plugins"),
]
ROLE_ATTRS_SCHEMA = "role string, actor_kind string, priority bigint, team string"

TOOL_ATTRS = [
    ("bash", "exec", "high"),
    ("read", "fs", "low"),
    ("write", "fs", "medium"),
    ("search", "net", "medium"),
    ("none", "noop", "low"),
]
TOOL_ATTRS_SCHEMA = "tool string, tool_category string, risk_level string"


def local_table(
    spark: SparkSession, rows: Sequence[Sequence[Any]], schema: str
) -> DataFrame:
    """A small constant table as an in-memory local relation.

    ``spark.createDataFrame(list)`` plans as ``Scan ExistingRDD`` over
    a pickled Python RDD, so every job that reads it (a broadcast
    build, a collect) launches Python workers.  This builds a
    SQL ``VALUES`` inline table instead: each cell is a bound named
    parameter cast to its ``schema`` (DDL string) type, so the table
    folds to a ``LocalRelation`` and plans as ``LocalTableScan`` —
    JVM-only, independent of the Arrow setting.  Named markers rather
    than ``?``: positional markers bind out of order inside ``VALUES``
    on Spark 4.1.
    """
    fields = StructType.fromDDL(schema).fields
    args: dict[str, Any] = {}
    tuples = []
    for i, row in enumerate(rows):
        cells = []
        for j, (f, v) in enumerate(zip(fields, row, strict=True)):
            args[f"v{i}_{j}"] = v
            cells.append(f"CAST(:v{i}_{j} AS {f.dataType.simpleString()})")
        tuples.append(f"({', '.join(cells)})")
    names = ", ".join(f"`{f.name}`" for f in fields)
    return spark.sql(
        f"SELECT * FROM VALUES {', '.join(tuples)} AS t({names})", args=args
    )


def enrich_turns(df: DataFrame) -> DataFrame:
    """Broadcast-join role and tool dimension attributes onto turns.

    Left joins: an unknown role/tool yields NULL attrs rather than
    dropping the row (the collector never drops on missing metadata).
    """
    spark = df.sparkSession
    role_attrs = local_table(spark, ROLE_ATTRS, ROLE_ATTRS_SCHEMA)
    tool_attrs = local_table(spark, TOOL_ATTRS, TOOL_ATTRS_SCHEMA)
    return df.join(F.broadcast(role_attrs), "role", "left").join(
        F.broadcast(tool_attrs), "tool", "left"
    )


def apply_dim_updates(dims: DataFrame, updates: DataFrame) -> DataFrame:
    """SCD-style dimension maintenance (MERGE INTO analog).

    ``updates`` rows are ``(key_cols..., property, value)`` deltas in
    the reference's dimension-update shape
    (pkg/receiver/smartagentreceiver/dimension.go:29-60): a non-NULL
    value upserts the property; a NULL value removes it (resets to
    NULL).  ``dims`` is wide (one column per property); the last update
    per (key, property) wins, keyed by an ``seq`` ordering column.

    Pure DataFrame implementation: pivot the deltas to wide form, left
    join on the key, and coalesce update-over-current per property —
    which is exactly what an Iceberg ``MERGE INTO ... WHEN MATCHED
    UPDATE`` compiles to, minus the copy-on-write file plumbing.
    """
    key = dims.columns[0]
    props = [c for c in dims.columns if c != key]

    w_last = (
        updates.withColumn(
            "_rn",
            F.row_number().over(
                Window.partitionBy(key, "property").orderBy(F.col("seq").desc())
            ),
        )
        .filter(F.col("_rn") == 1)
        .drop("_rn", "seq")
    )
    wide = (
        w_last.groupBy(key)
        .pivot("property", props)
        .agg(F.first("value"))
    )
    # track which properties were touched (NULL value could mean remove)
    touched = (
        w_last.groupBy(key)
        .agg(F.collect_set("property").alias("_touched"))
    )
    wide = wide.join(touched, key, "inner")

    joined = dims.alias("d").join(F.broadcast(wide.alias("u")), key, "left")
    out_cols = [F.col(f"d.{key}").alias(key)]
    for p in props:
        out_cols.append(
            F.when(
                F.array_contains(F.coalesce(F.col("u._touched"), F.array()), p),
                F.col(f"u.{p}"),
            )
            .otherwise(F.col(f"d.{p}"))
            .alias(p)
        )
    return joined.select(*out_cols)


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str = "ts",
    by: str = "user_id",
    value_cols: list[str] | None = None,
) -> DataFrame:
    """Point-in-time (as-of) join: each left row picks up the LATEST
    right row with ``right.ts <= left.ts`` for the same key.

    The dimension-update side channel (``apply_dim_updates``) gives
    the *current* state; an as-of join answers the historical form —
    "what was this user's plan / this host's config *when the event
    happened*" — the lookup every SCD-2 enrichment and backfill needs.
    Spark has no ASOF JOIN operator; the naive range join
    (``l.key = r.key AND r.ts <= l.ts`` + max-ts dedup) explodes to
    O(events x updates-per-key) rows before pruning.

    This is the linear-cost form: tag and union both inputs, then one
    per-key window ordered by (ts, side) carries the last non-null
    right values forward onto each left row (``last(..., ignorenulls)``
    over unbounded-preceding..current).  Right rows sort BEFORE left
    rows at equal ts, so the match is inclusive.  ONE shuffle (the
    window), partials are streaming — a key with 10^8 events costs its
    task a sort, never a cross product.  Left rows with no prior
    update keep nulls (left-join semantics).

    ``value_cols`` (default: all right columns except key+ts) must not
    collide with left column names.
    """
    if value_cols is None:
        value_cols = [c for c in right.columns if c not in (on, by)]
    clash = set(value_cols) & set(left.columns)
    if clash:
        raise ValueError(f"value_cols collide with left columns: {sorted(clash)}")
    r_types = dict(right.dtypes)
    l_types = dict(left.dtypes)
    l = left.withColumn("_side", F.lit(1))
    for c in value_cols:
        l = l.withColumn(c, F.lit(None).cast(r_types[c]))
    r = right.select(by, on, *value_cols).withColumn("_side", F.lit(0))
    for c in left.columns:
        if c not in (by, on):
            r = r.withColumn(c, F.lit(None).cast(l_types[c]))
    u = l.unionByName(r.select(*l.columns))
    w = (
        Window.partitionBy(by)
        .orderBy(F.col(on).asc(), F.col("_side").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = u.select(
        *[c for c in left.columns],
        "_side",
        *[
            F.last(F.col(c), ignorenulls=True).over(w).alias(f"_c_{c}")
            for c in value_cols
        ],
    )
    return carried.filter(F.col("_side") == 1).select(
        *[c for c in left.columns],
        *[F.col(f"_c_{c}").alias(c) for c in value_cols],
    )


def rolling_features(
    df: DataFrame,
    value_col: str = "value",
    key_col: str = "user_id",
    ts_col: str = "ts",
    window_sec: int = 300,
) -> DataFrame:
    """Trailing time-window features per key: count / mean / max of
    ``value_col`` over the last ``window_sec`` seconds (inclusive),
    attached to every row — the rate/baseline features a telemetry
    anomaly detector or a per-user activity profile reads.

    Pure window ``rangeBetween`` on epoch seconds: one shuffle, no
    self-join (the naive formulation is a range self-join that
    explodes quadratically on hot keys), streaming frame evaluation.
    """
    # NTZ timestamps can't cast straight to long in Spark 4; the hop
    # through timestamp_ltz shifts by a constant (session tz) offset,
    # which cannot change trailing-window membership.
    epoch = F.col(ts_col).cast("timestamp_ltz").cast("long")
    w = (
        Window.partitionBy(key_col)
        .orderBy(epoch)
        .rangeBetween(-window_sec, 0)
    )
    return df.select(
        key_col,
        ts_col,
        value_col,
        F.count("*").over(w).alias("n_win"),
        F.round(F.avg(value_col).over(w), 4).alias("mean_win"),
        F.round(F.max(value_col).over(w), 4).alias("max_win"),
    )


def interval_join(
    facts: DataFrame,
    intervals: DataFrame,
    fact_ts: str = "ts",
    start_col: str = "start",
    end_col: str = "end",
    bucket_sec: int = 600,
    keys: list[str] | None = None,
) -> DataFrame:
    """Range (interval) join: every fact row whose ``fact_ts`` falls
    inside an interval ``[start, end]`` — Spark has no range-join
    operator, and the naive ``ON ts BETWEEN start AND end`` plan is a
    BroadcastNestedLoopJoin (quadratic, undistributable when neither
    side fits in memory).

    Strategy: quantize time into ``bucket_sec`` buckets; an interval
    explodes to the buckets it touches (``sequence(floor(s/b),
    floor(e/b))`` — ceil(len/b)+1 rows, tiny when buckets are sized
    near the interval length), facts map to ONE bucket, and the join
    becomes a plain hash equi-join on (bucket [+ keys]) with the exact
    BETWEEN as a post-filter.  This is the standard bucketed range
    join (Databricks' range-join optimization, Flink's interval join)
    — shuffle volume is O(facts + intervals x buckets_per_interval),
    never a cross product, and AQE handles a small interval side with
    a broadcast.

    Returns facts x matching-interval rows (inner join), all columns
    from both sides.
    """
    b = float(bucket_sec)
    # NTZ timestamps can't cast straight to a number in Spark 4; the
    # timestamp_ltz hop shifts by a constant offset on BOTH sides of
    # the join, which cannot change bucket co-membership.
    def epoch(c: Column) -> Column:
        return c.cast("timestamp_ltz").cast("double")

    fb = facts.withColumn("_bucket", F.floor(epoch(F.col(fact_ts)) / b))
    ib = intervals.withColumn(
        "_bucket",
        F.explode(
            F.sequence(
                F.floor(epoch(F.col(start_col)) / b),
                F.floor(epoch(F.col(end_col)) / b),
            )
        ),
    )
    on = ["_bucket"] + (keys or [])
    return (
        fb.join(ib, on)
        .filter(
            (F.col(fact_ts) >= F.col(start_col))
            & (F.col(fact_ts) <= F.col(end_col))
        )
        .drop("_bucket")
    )


def scd2_intervals(
    updates: DataFrame,
    key_cols: list[str],
    ts_col: str = "ts",
    order_cols: list[str] | None = None,
) -> DataFrame:
    """Build an SCD type-2 dimension (effective-interval form) from a
    change log: per key, each update row becomes a version valid from
    its own timestamp until the NEXT update's timestamp (NULL
    ``valid_to`` = current version).  This is the materialized twin of
    :func:`asof_join` — join facts with
    ``fact.ts >= valid_from AND (fact.ts < valid_to OR valid_to IS
    NULL)`` (or via :func:`interval_join`) instead of re-running the
    carry-forward window per query.

    ONE keyed window (lead), no self-join; shuffle-free when the change
    log is clustered by key.  ``is_current`` is derived, not stored
    state — rebuilding from the log is idempotent, which is what makes
    the table safe to regenerate per snapshot at 100 TB.
    """
    w = Window.partitionBy(*key_cols).orderBy(ts_col, *(order_cols or []))
    return (
        updates.withColumn("valid_from", F.col(ts_col))
        .withColumn("valid_to", F.lead(ts_col).over(w))
        .withColumn("version", F.row_number().over(w))
        .withColumn("is_current", F.col("valid_to").isNull())
        .drop(ts_col)
    )


def k8s_owner_resolve(
    pods: DataFrame,
    replicasets: DataFrame,
    pod_name_col: str = "pod_name",
    rs_col: str = "rs_name",
    deploy_col: str = "deploy_name",
) -> DataFrame:
    """Resolve each pod's top-level workload through the k8s owner
    chain — pod -> ReplicaSet -> Deployment — the way the
    k8sattributes processor (components.go:325) and the smart agent's
    pod/replicaset caches do (internal/signalfx-agent/pkg/monitors/
    kubernetes/utils/replicasetcache.go:34-57: a ReplicaSet's
    OwnerReferences point at its Deployment; podcache joins pods to
    that).

    A pod with no ReplicaSet owner is its own workload
    (kind=Pod); a ReplicaSet with no Deployment owner is the workload
    itself (kind=ReplicaSet).  The dimension side is cluster metadata
    — O(workloads), always tiny next to the datapoint stream — so the
    join is an explicit broadcast: at 100 TB the fact side streams
    through map-side hash lookups, zero shuffle.
    """
    rs = F.broadcast(
        replicasets.select(
            F.col(rs_col), F.col(deploy_col).alias("_deploy")
        )
    )
    joined = pods.join(rs, rs_col, "left")
    kind = (
        F.when(F.col("_deploy").isNotNull(), F.lit("Deployment"))
        .when(F.col(rs_col).isNotNull(), F.lit("ReplicaSet"))
        .otherwise(F.lit("Pod"))
    )
    name = F.coalesce(F.col("_deploy"), F.col(rs_col), F.col(pod_name_col))
    return joined.select(
        *pods.columns,
        kind.alias("workload_kind"),
        name.alias("workload_name"),
    ).drop("_deploy")


def resource_detection(
    df: DataFrame,
    detectors: list[tuple[str, dict[str, "F.Column"]]],
    override: bool = False,
) -> DataFrame:
    """resourcedetection processor precedence (components.go:332):
    detectors run in configured order and the FIRST one that supplies
    an attribute wins; with ``override=False`` (the default) an
    attribute already present on the resource beats every detector,
    with ``override=True`` the detected value replaces it.

    ``detectors`` is the ordered config list: (detector_name,
    {attribute: Column-or-NULL}).  Everything folds to one
    ``coalesce`` per attribute — pure Catalyst, no shuffle, and the
    plan stays a single Project over the scan.
    """
    by_attr: dict[str, list] = {}
    for _name, attrs in detectors:
        for key, col in attrs.items():
            by_attr.setdefault(key, []).append(col)
    for key, cols in by_attr.items():
        detected = F.coalesce(*cols) if len(cols) > 1 else cols[0]
        if key in df.columns:
            merged = (
                F.coalesce(detected, F.col(key))
                if override
                else F.coalesce(F.col(key), detected)
            )
        else:
            merged = detected
        df = df.withColumn(key, merged)
    return df


def priority_merge(
    df: DataFrame,
    key_col: str,
    priority_col: str,
    source_col: str,
    value_col: str,
) -> DataFrame:
    """Source-of-truth merge across tiered sources (gold > silver >
    crawl — the reconciliation pass when several pipelines emit the
    same keys): per key, keep the value from the LOWEST priority
    number, ties broken by source name then value (fully
    deterministic).

    One struct-min aggregate — map-side partials collapse each
    source's contribution before the single key shuffle; no join, no
    window.
    """
    best = F.min(
        F.struct(
            F.col(priority_col).alias("p"),
            F.col(source_col).alias("s"),
            F.col(value_col).alias("v"),
        )
    )
    return df.groupBy(key_col).agg(
        best["p"].alias("priority"),
        best["s"].alias("source"),
        best["v"].alias("value"),
        F.count("*").alias("n_candidates"),
    )


def wildcard_lookup(
    facts: DataFrame,
    lookup: DataFrame,
    fact_key: str,
    pattern_col: str,
    specificity_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Splunk-style WILDCARD(...) lookup enrichment: the lookup table
    keys on glob patterns (``api-*``, ``*-db``, exacts), a fact row
    takes the MOST SPECIFIC matching row — fewest wildcards first,
    then longest pattern, then lexicographic (a deterministic total
    order, unlike Splunk's file order).

    The lookup side is a
    bounded config table: the theta-join (rlike) is a broadcast
    nested-loop by construction — the ONLY join shape a pattern match
    can have — and stays cheap because the broadcast side is config-
    sized.  Non-matching facts survive with NULL enrichment (left).

    Reference analog: signalfx-agent service-discovery rules match
    globs against discovered endpoints the same way.
    """
    pats = lookup.select(
        F.col(pattern_col).alias("_pat"),
        *[F.col(c) for c in specificity_cols],
        *[
            F.col(c)
            for c in lookup.columns
            if c != pattern_col and c not in specificity_cols
        ],
    )
    n_wild = (
        F.length("_pat")
        - F.length(F.regexp_replace(F.col("_pat"), r"[*?]", ""))
    )
    # the pattern column is DATA (not config literals), so the glob ->
    # regex translation is expressed in Catalyst for the *, ? dialect:
    # escape regex metachars, then map \* -> .*, \? -> .
    esc = F.regexp_replace(
        F.col("_pat"), r"([.\^$+{}\[\]()|\\])", r"\\$1"
    )
    rx = F.concat(
        F.lit("^"),
        F.regexp_replace(
            F.regexp_replace(esc, r"\*", ".*"), r"\?", "."
        ),
        F.lit("$"),
    )
    pats = pats.withColumn("_rx", rx).withColumn("_nw", n_wild)
    joined = facts.join(
        pats, F.regexp_like(F.col(fact_key), F.col("_rx")), "left"
    )
    w = Window.partitionBy(*facts.columns).orderBy(
        F.col("_nw").asc(),
        F.length("_pat").desc(),
        F.col("_pat").asc(),
    )
    best = joined.withColumn("_r", F.row_number().over(w)).filter(
        F.col("_r") == 1
    )
    return best.drop("_r", "_rx", "_nw")


def cidr_lookup(
    facts: DataFrame,
    ip_col: str,
    cidrs: DataFrame,
    cidr_col: str = "cidr",
    value_col: str = "zone",
    out_col: str = "zone",
    default: str | None = None,
) -> DataFrame:
    """Longest-prefix-match IPv4 enrichment against a CIDR dimension.

    Reference analog: resourcedetection / k8s network-zone style
    enrichment keyed on address ranges (the collector resolves
    endpoint observers to network metadata; dpfilter globs match
    address strings but cannot express prefix containment).

    Scale shape: the naive formulation — range join ``ip BETWEEN lo
    AND hi`` then a per-row window to pick the longest prefix — is a
    theta-join plus an extra shuffle.  Instead LPM is compiled into a
    CASCADE OF BROADCAST EQUI-JOINS, one per distinct prefix length in
    the dimension (<= 33, collected driver-side from the *dimension*,
    never the facts): for prefix length L, bucket = floor(ip / 2^(32-L))
    equi-joins the fact against the /L slice of the dim.  Every join is
    a map-side broadcast hash join on a computed key — ZERO exchanges
    on the fact table — and the winner is the first non-null in
    descending-L ``coalesce`` order, which IS longest-prefix-match.

    ``cidrs`` must be a small dimension (broadcast); rows whose ip
    matches nothing get ``default``.
    """
    parts = F.split(F.col(ip_col), r"\.")
    ip_int = (
        parts.getItem(0).cast("long") * 16777216
        + parts.getItem(1).cast("long") * 65536
        + parts.getItem(2).cast("long") * 256
        + parts.getItem(3).cast("long")
    )
    cparts = F.split(F.col(cidr_col), "/")
    octs = F.split(cparts.getItem(0), r"\.")
    prefix_int = (
        octs.getItem(0).cast("long") * 16777216
        + octs.getItem(1).cast("long") * 65536
        + octs.getItem(2).cast("long") * 256
        + octs.getItem(3).cast("long")
    )
    dim = cidrs.select(
        prefix_int.alias("_pfx"),
        cparts.getItem(1).cast("int").alias("_plen"),
        F.col(value_col).alias("_val"),
    )
    plens = sorted(
        (r["_plen"] for r in dim.select("_plen").distinct().collect()),
        reverse=True,
    )
    out = facts.withColumn("_ip_int", ip_int)
    hit_cols = []
    for plen in plens:
        span = 2 ** (32 - plen)
        slice_ = dim.filter(F.col("_plen") == plen).select(
            F.floor(F.col("_pfx") / span).cast("long").alias(f"_b{plen}"),
            F.col("_val").alias(f"_v{plen}"),
        )
        out = out.join(
            F.broadcast(slice_),
            F.floor(F.col("_ip_int") / span).cast("long")
            == F.col(f"_b{plen}"),
            "left",
        ).drop(f"_b{plen}")
        hit_cols.append(F.col(f"_v{plen}"))
    best = F.coalesce(*hit_cols, F.lit(default)) if hit_cols else F.lit(default)
    return out.withColumn(out_col, best).drop(
        "_ip_int", *[f"_v{p}" for p in plens]
    )


def haversine_km(lat1, lon1, lat2, lon2) -> "F.Column":
    """Great-circle distance in km (haversine), pure JVM trig."""
    rl1, rl2 = F.radians(lat1), F.radians(lat2)
    dlat = F.radians(lat2 - lat1) / 2.0
    dlon = F.radians(lon2 - lon1) / 2.0
    a = F.sin(dlat) * F.sin(dlat) + F.cos(rl1) * F.cos(rl2) * F.sin(
        dlon
    ) * F.sin(dlon)
    return 2.0 * 6371.0 * F.asin(F.sqrt(a))


def nearest_poi(
    facts: DataFrame,
    lat_col: str,
    lon_col: str,
    pois: DataFrame,
    name_col: str = "poi",
    poi_lat: str = "lat",
    poi_lon: str = "lon",
) -> DataFrame:
    """Nearest-point-of-interest geo enrichment, zero fact shuffles.

    GeoIP-style enrichment (the collector attaches region/zone
    metadata via resourcedetection; this is the coordinates variant):
    assign every fact row to its closest POI by haversine distance.

    Scale shape: like ``cidr_lookup``, the bounded dimension is
    collected driver-side (POI catalogs are hundreds of rows, never
    facts) and compiled INTO the row expression — an array of
    (distance, name) structs whose ``array_min`` is the argmin
    (struct comparison orders by distance first, name as the
    deterministic tie-break).  No join, no shuffle, whole-stage
    codegen; a per-row O(|POI|) trig loop beats a broadcast-join +
    re-aggregation for any dimension small enough to broadcast anyway.

    Adds ``poi`` and ``poi_km`` (round 3) to the facts.
    """
    rows = pois.select(name_col, poi_lat, poi_lon).collect()
    lat = F.col(lat_col).cast("double")
    lon = F.col(lon_col).cast("double")
    entries = [
        F.struct(
            F.round(
                haversine_km(
                    lat, lon, F.lit(float(r[poi_lat])), F.lit(float(r[poi_lon]))
                ),
                3,
            ).alias("km"),
            F.lit(r[name_col]).alias("name"),
        )
        for r in rows
    ]
    best = F.array_min(F.array(*entries))
    return facts.withColumn("poi", best["name"]).withColumn(
        "poi_km", best["km"]
    )


def cdc_compact(
    df: DataFrame,
    key_cols: list[str],
    version_cols: list[str],
    op_col: str,
    delete_op: str = "D",
) -> DataFrame:
    """CDC log compaction: replayed change events -> current state.

    The Debezium/Iceberg-upsert shape every log pipeline eventually
    feeds: a stream of keyed change events (insert/update/delete,
    possibly out of order, possibly REPLAYED after a checkpoint resume
    — see ``checkpoint.py``'s at-least-once contract) compacts to the
    latest surviving row per key.  Semantics:

    - winner per key = max ``version_cols`` (lexicographic over the
      list; callers must make versions unique per key — CDC LSNs are);
      exact replays (same key + version) collapse to one row.
    - a winning ``delete_op`` row TOMBSTONES the key: it is removed
      from the output entirely, not emitted as a ghost row.

    One keyed window (row_number over version desc), one filter — a
    single hash exchange on the key at any scale, and the natural
    pre-write step before a ``batch``-partitioned sink write.
    """
    order = [F.col(c).desc() for c in version_cols] + [F.col(op_col)]
    w = Window.partitionBy(*key_cols).orderBy(*order)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .filter(F.col(op_col) != delete_op)
        .drop("_rn")
    )
