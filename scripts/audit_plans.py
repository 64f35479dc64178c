#!/usr/bin/env python3
"""Physical-plan audit: is each plan the one we'd want at 100 TB?

Every registry entry (all of ``queries()``) and every plan audited by
hand below is planned once with AQE off, and its physical plan is
walked as a tree against four invariants:

1. no Python node: no operator class name contains ``Python``,
   ``InPandas`` or ``InArrow`` (an opaque boundary the engine cannot
   plan around);
2. bounded global operators: every unpartitioned ``WindowExec`` has,
   on every path down to a leaf, an aggregate, a limit or a literal
   relation (``LocalTableScan``, ``Range``); every nested-loop or
   cartesian join has at least one side bounded that way.  A reused
   exchange is followed to the exchange it reuses;
3. no suffix frame: no ``currentRow..unboundedFollowing`` window
   frame, which Spark re-aggregates for every row;
4. codegen: at least one whole-stage codegen stage.

An entry may break an invariant only if it is on that invariant's
``EXCEPTIONS`` list, which says why; a listed entry that no longer
breaks it fails the audit too, so a fix must also drop the exception.
One deliberately bad plan per invariant (``bad_fixtures``) must break
that invariant alone.

On top of that, per-entry checks over ``explain("formatted")`` text
assert what the invariants do not: filter pushdown, broadcast joins,
exchange counts, partial aggregation.  PLANS.md gets the invariant
summary and the hand-audited plans, normalised so that any host or
core count writes the same file.

Run: python scripts/audit_plans.py [sf_dir]
"""

import re
import sys
from typing import NamedTuple

sys.path.insert(0, ".")

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"

INVARIANTS = {
    "python": "no Python node",
    "unbounded": "every global window and nested-loop join is bounded",
    "suffix_frame": "no currentRow..unboundedFollowing frame",
    "codegen": ">=1 whole-stage codegen stage",
}
PYTHON_NODE = re.compile("Python|InPandas|InArrow")
# a subtree is bounded when every path down to a leaf crosses one of these
BOUNDING = {
    "HashAggregateExec", "ObjectHashAggregateExec", "SortAggregateExec",
    "GlobalLimitExec", "CollectLimitExec", "TakeOrderedAndProjectExec",
    "LocalTableScanExec", "RangeExec",
}
GLOBAL_JOINS = {"BroadcastNestedLoopJoinExec", "CartesianProductExec"}
SUFFIX_FRAME = "currentrow$(), unboundedfollowing$()"

# Registry entries allowed to break an invariant, and why.  The Python
# ones are the Arrow kernels of ROADMAP direction 4.
EXCEPTIONS = {
    "python": {
        "jaro_winkler_match": "Arrow-batched Jaro-Winkler pandas UDF",
        "knn_join_top3": "exact kNN kernel (mapInPandas)",
        "processlist_encode": "zlib + base64 wire codec (pandas UDF)",
        "trace_batch_by_ip": "per-IP span batching (applyInPandas)",
        "xmlkv_parse": "Arrow-batched expat XML parse",
    },
    "unbounded": {
        "lindley_queue_replay": "four global windows directly on the "
        "events scan: the reflected walk's prefix sum and prefix min",
        "rrf_fusion": "two row_number() windows directly on the filtered "
        "documents scan, one per ranked list",
        "histogram_bin_advisor": "windows read localCheckpoint output, "
        "an opaque RDD scan",
        "binseg_changepoints": "nested-loop joins read localCheckpoint "
        "output, an opaque RDD scan",
        "energy_distance": "nested-loop joins read localCheckpoint "
        "output, an opaque RDD scan",
        "ann_recall_at_k": "self-join of the embeddings scan; the probe "
        "side is filtered to 3 ids",
    },
    "suffix_frame": {
        "kaplan_meier_conversion": "risk-set frame over the bounded day "
        "grid",
        "logrank_cohorts": "risk-set frame over the bounded day grid",
        "nelson_aalen": "risk-set frame over the bounded duration grid",
    },
    "codegen": {},
}


class Node(NamedTuple):
    op: str  # physical operator class, e.g. "WindowExec"
    children: list
    detail: object  # WindowExec: (partitioned, window exprs); codegen: id


def executed_plan(df):
    """``df``'s physical plan with AQE off, so that codegen stages and
    exchange reuse are planned in place rather than deferred."""
    spark = df.sparkSession
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        mode = spark._jvm.org.apache.spark.sql.execution.CommandExecutionMode
        return spark._jsparkSession.sessionState().executePlan(
            df._jdf.queryExecution().logical(), mode.ALL()
        ).executedPlan()
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def plan_tree(plan) -> Node:
    """Copy a JVM ``SparkPlan`` into ``Node``s; a reused exchange or
    subquery gets the plan it reuses as its child."""
    op = plan.getClass().getSimpleName()
    if op.startswith("Reused"):
        kids = [plan.child()]
    else:
        seq = plan.children()
        kids = [seq.apply(i) for i in range(seq.size())]
    detail = None
    if op == "WindowExec":
        detail = (not plan.partitionSpec().isEmpty(),
                  plan.windowExpression().toString().lower())
    elif op == "WholeStageCodegenExec":
        detail = plan.codegenStageId()
    return Node(op, [plan_tree(k) for k in kids], detail)


def bounded(node: Node) -> bool:
    return node.op in BOUNDING or (
        bool(node.children) and all(map(bounded, node.children))
    )


def broken_invariants(df) -> tuple[set, int]:
    """The invariants ``df``'s executed plan breaks, and its number of
    whole-stage codegen stages."""
    plan = executed_plan(df)
    subs = plan.subqueriesAll()
    stack = [plan_tree(plan)]
    stack += [plan_tree(subs.apply(i)) for i in range(subs.size())]
    broken, stages = set(), set()
    while stack:
        node = stack.pop()
        stack += node.children
        if PYTHON_NODE.search(node.op):
            broken.add("python")
        if node.op == "WindowExec":
            partitioned, exprs = node.detail
            if SUFFIX_FRAME in exprs:
                broken.add("suffix_frame")
            if not partitioned and not all(map(bounded, node.children)):
                broken.add("unbounded")
        if node.op in GLOBAL_JOINS and not any(map(bounded, node.children)):
            broken.add("unbounded")
        if node.op == "WholeStageCodegenExec":
            stages.add(node.detail)
    if not stages:
        broken.add("codegen")
    return broken, len(stages)


def bad_fixtures(spark, scan) -> list:
    """One plan per way to break an invariant, each breaking only that
    one: ``(invariant, description, DataFrame)``.  ``scan`` is a
    parquet scan (a ``spark.range`` input would count as bounded)."""
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from sparkcollector.operators.analytics import _cents_grid

    @F.pandas_udf("long")
    def plus_one(v: pd.Series) -> pd.Series:
        return v + 1

    # the confusion sweep as it was before its O(grid) fix
    scored = spark.range(1000).select(
        (F.col("id") % 97 / 100).alias("s"), (F.col("id") % 2).alias("y")
    )
    suffix = Window.orderBy("v").rowsBetween(0, Window.unboundedFollowing)
    sweep = _cents_grid(scored, F.col("s"), F.col("y")).select(
        "v",
        F.sum("pos").over(suffix).alias("tp"),
        F.sum(F.col("c") - F.col("pos")).over(suffix).alias("fp"),
    )
    first = Window.orderBy(scan.columns[0])
    return [
        ("python", "pandas_udf over spark.range",
         spark.range(10).select(plus_one("id"))),
        ("unbounded", "Window.orderBy over a parquet scan",
         scan.select(F.row_number().over(first))),
        ("unbounded", "crossJoin of two parquet scans", scan.crossJoin(scan)),
        ("suffix_frame", "rowsBetween(0, unboundedFollowing) sweep", sweep),
        ("codegen", "bare VALUES relation", spark.sql("VALUES (1), (2)")),
    ]


def normalised(p: str, tmp_dir: str) -> str:
    """``p`` without what varies between runs and hosts: expression,
    plan and RDD ids, the core count (Range splits, round-robin
    partitions) and the input and scratch directories."""
    p = p.replace(SF_DIR, "<sf_dir>").replace(tmp_dir, "<tmp>")
    p = re.sub(r"#\d+", "#", p)
    p = re.sub(r"plan_id=\d+", "plan_id=", p)
    p = re.sub(r"RDD\[\d+\]", "RDD[]", p)
    p = re.sub(r"RoundRobinPartitioning\(\d+\)", "RoundRobinPartitioning(n)", p)
    return re.sub(r"splits=(Some\(\d+\)|\d+)", "splits=n", p)


def plan_of(df) -> str:
    return df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


_FAILED: list = []
_WALKED: dict = {}  # plan key -> invariants its plan breaks


def walk(key: str, df) -> tuple[bool, int]:
    """Check ``df``'s plan against the invariants, allowing what
    ``EXCEPTIONS`` lists for ``key``; return (ok, codegen stages)."""
    broken, n_codegen = broken_invariants(df)
    excepted = {inv for inv, names in EXCEPTIONS.items() if key in names}
    _WALKED[key] = broken
    for inv in broken ^ excepted:
        state = "breaks" if inv in broken else "no longer breaks"
        print(f"    [FAIL] {key} {state} invariant: {INVARIANTS[inv]}")
    return broken == excepted, n_codegen


def audit(name, checks, out, notes="", plan=None):
    """Run ``checks`` over the formatted plan and the invariants over the
    executed plan.  ``plan`` is the registry entry to audit (default:
    the entry called ``name``) or a function that builds the DataFrame."""
    from pyspark.sql import SparkSession

    from sparkcollector.queries import queries

    if callable(plan):
        key, df = name, plan()
    else:
        key = plan or name
        df = queries()[key](SparkSession.getActiveSession(), SF_DIR)
    p = plan_of(df)
    n_exchange = len(re.findall(r"\bExchange\b", p))
    ok_all, n_codegen = walk(key, df)
    results = [(desc, fn(p)) for desc, fn in checks]
    ok_all &= all(ok for _, ok in results)
    out.append((name, p, n_exchange, n_codegen, results, notes))
    if not ok_all:
        _FAILED.append(name)
    status = "PASS" if ok_all else "FAIL"
    print(f"  {name}: {status}  exchanges={n_exchange} codegen_spans={n_codegen}")
    for desc, ok in results:
        print(f"    [{'ok' if ok else 'FAIL'}] {desc}")
    return ok_all


def main() -> None:
    from pyspark.sql import functions as F

    from sparkcollector.config import compile_pipeline
    from sparkcollector.session import get_spark
    from sparkcollector.aggregate import count_connector
    from sparkcollector.queries import _t, queries, transcripts_from_events

    spark = get_spark(app_name="plan-audit", shuffle_partitions=32)
    out: list = []
    all_ok = True

    # 1. flagship pipeline: exactly ONE shuffle (repartition(conv_id));
    #    enrich joins broadcast; no sort-merge join anywhere.
    all_ok &= audit(
        "pipeline_routed",
        [
            ("broadcast enrich (no SortMergeJoin)", lambda p: "SortMergeJoin" not in p),
            (">=2 BroadcastHashJoin", lambda p: p.count("BroadcastHashJoin") >= 2),
            ("no Scan ExistingRDD (dims are local relations)",
             lambda p: "Scan ExistingRDD" not in p),
            ("sort is within partitions (no global Sort exchange after repartition)",
             lambda p: "rangepartitioning" not in p.lower()),
        ],
        out,
        "transcripts derivation adds a window exchange; the pipeline "
        "proper contributes exactly one hashpartitioning(conv_id) exchange.",
        plan=lambda: compile_pipeline()(transcripts_from_events(spark, SF_DIR)),
    )

    # 2. aggregation: partial (map-side) aggregation before the shuffle.
    all_ok &= audit(
        "count_connector",
        [
            ("partial aggregation present", lambda p: "partial_count" in p or "Partial" in p),
            ("no shuffle join (broadcast enrich only)",
             lambda p: "SortMergeJoin" not in p and "ShuffledHashJoin" not in p),
        ],
        out,
        plan=lambda: count_connector(
            compile_pipeline()(transcripts_from_events(spark, SF_DIR))
        ),
    )

    # 3. filter pushdown + column pruning reach the parquet scan.
    all_ok &= audit(
        "scan_pushdown",
        [
            ("PushedFilters non-empty",
             lambda p: re.search(r"PushedFilters: \[[^\]]+\]", p) is not None),
            ("ReadSchema pruned to 2 columns",
             lambda p: (m := re.search(r"ReadSchema: struct<([^>]*)>", p)) is not None
             and len(m.group(1).split(",")) == 2),
        ],
        out,
        plan=lambda: _t(spark, SF_DIR, "lineitem")
        .filter(F.col("l_quantity") <= 10)
        .select("l_returnflag", "l_quantity"),
    )

    # 4. broadcast_enrich query: both dims broadcast.
    all_ok &= audit(
        "broadcast_enrich",
        [
            ("both dim joins broadcast", lambda p: p.count("BroadcastHashJoin (") >= 2 or p.count("BroadcastHashJoin") >= 2),
            ("no SortMergeJoin", lambda p: "SortMergeJoin" not in p),
        ],
        out,
    )

    # 5. jaccard group-pairs: zero joins by construction.
    all_ok &= audit(
        "ngram_jaccard_dups",
        [("ZERO joins (group-pairs design)", lambda p: "Join" not in p)],
        out,
    )

    # 6. topn window: single shuffle for the window.
    all_ok &= audit(
        "topn_per_group",
        [("window + filter, no join", lambda p: "Join" not in p)],
        out,
    )

    # 7. LSH verify join: NO forced BroadcastExchange feeding the
    #    candidate-set verify joins (unbounded at 100 TB) — AQE may
    #    still broadcast at runtime when stats fit, which is the point.
    #    The plan is post-localCheckpoint, so inspect the full query.
    from sparkcollector.operators.dedup import minhash_lsh_pairs

    docs = _t(spark, SF_DIR, "documents")
    all_ok &= audit(
        "minhash_verify_join",
        [
            ("no static BroadcastExchange in verify joins (AQE decides)",
             lambda p: "BroadcastExchange" not in p
             or "AdaptiveSparkPlan" in p),
            ("verify joins keyed on doc ids",
             lambda p: "doc_a" in p and "doc_b" in p),
        ],
        out,
        "broadcast hints removed round 2: candidate shingle sets are "
        "unbounded; joins are plain equi-joins AQE can downgrade.",
        plan=lambda: minhash_lsh_pairs(docs, threshold=0.5, n=3, n_perm=16,
                                       rows_per_band=2),
    )

    # 8. tail_sample / discovery_correlation: no forced broadcast of
    #    fact-derived frames.
    all_ok &= audit(
        "tail_sample",
        [
            ("semi join present", lambda p: "LeftSemi" in p),
        ],
        out,
        plan="tail_sample_error_convs",
    )
    all_ok &= audit(
        "embedding_dups_bucketed",
        [
            ("cluster-keyed equi join (no cartesian product)",
             lambda p: "CartesianProduct" not in p
             and "BroadcastNestedLoopJoin" not in p),
        ],
        out,
        "IVF multi-assign + same-cluster join replaced the O(n^2) "
        "broadcast self-join in round 2.",
        plan="embedding_cosine_dups",
    )

    # 9. each invariant fires on its bad fixture, so the passes below
    #    are not vacuous.
    scan = _t(spark, SF_DIR, "lineitem")
    for inv, desc, df in bad_fixtures(spark, scan):
        broken, _ = broken_invariants(df)
        all_ok &= broken == {inv}
        print(f"  fixture {desc}: breaks {sorted(broken)}, "
              f"expected ['{inv}']")

    # --- bucketed-input pipeline: the production layout must be a
    # pure map job (zero shuffle exchanges; broadcasts only) ---------
    import tempfile

    from sparkcollector.synth import write_bucketed_table, write_parquet

    tmpd = tempfile.mkdtemp(prefix="audit-bucketed-")
    write_parquet(f"{tmpd}/flat.parquet", 20_000, seed=3)
    spark.conf.set(
        "spark.sql.sources.bucketing.autoBucketedScan.enabled", "false"
    )
    write_bucketed_table(spark, f"{tmpd}/flat.parquet", f"{tmpd}/bucketed", 8)
    all_ok &= audit(
        "bucketed_pipeline_shuffle_free",
        [
            ("ZERO shuffle exchanges (pure map job)",
             lambda p: not re.search(
                 r"Exchange (hash|range|SinglePartition|RoundRobin)", p)),
            ("broadcast enrich still present",
             lambda p: "BroadcastHashJoin" in p),
            ("no Scan ExistingRDD (dims are local relations)",
             lambda p: "Scan ExistingRDD" not in p),
        ],
        out,
        "conv_id-bucketed input (Iceberg bucket-transform layout): the "
        "scan delivers conversation-whole hash-placed partitions, so "
        "nothing downstream needs a shuffle.",
        plan=lambda: compile_pipeline()(
            spark.table("transcripts_bucketed"), prepartitioned=True
        ),
    )
    all_ok &= audit(
        "decontaminate",
        [
            ("semi join on grams", lambda p: "LeftSemi" in p),
            ("no cartesian/broadcast-nested-loop",
             lambda p: "CartesianProduct" not in p
             and "BroadcastNestedLoopJoin" not in p),
        ],
        out,
        plan="decontaminate_benchmark",
    )
    all_ok &= audit(
        "chunk_overlap_map_only",
        [
            ("zero exchanges (generator expression, no UDF)",
             lambda p: "Exchange" not in p),
        ],
        out,
        plan="chunk_overlap",
    )
    all_ok &= audit(
        "stratified_sample_pushdown",
        [
            ("zero exchanges (deterministic hash filter)",
             lambda p: "Exchange" not in p),
        ],
        out,
        plan="stratified_sample",
    )

    all_ok &= audit(
        "pack_sequences",
        [
            ("exactly one exchange (per-group cumsum window)",
             lambda p: len(re.findall(r"Exchange \(\d+\)", p)) == 1),
        ],
        out,
        "concat-then-chunk packing: window cumsum is the only shuffle; "
        "explode + span arithmetic are codegen'd.",
    )
    all_ok &= audit(
        "shuffle_shards",
        [
            ("one exchange (per-shard rank), NO global sort",
             lambda p: len(re.findall(r"Exchange \(\d+\)", p)) == 1
             and "rangepartitioning" not in p
             and "SinglePartition" not in p),
        ],
        out,
        "deterministic training shuffle: rank windows are per-shard — "
        "a single-partition row_number over the corpus never appears.",
    )
    all_ok &= audit(
        "pii_scrub_map_only",
        [
            ("zero exchanges (narrow regexp transform)",
             lambda p: "Exchange" not in p),
        ],
        out,
        plan="pii_scrub",
    )
    all_ok &= audit(
        "domain_mix",
        [
            ("no cartesian on the corpus side (1-row scale factor only)",
             lambda p: len(re.findall(
                 r"(?:CartesianProduct|BroadcastNestedLoopJoin)[^\n]*\(\d+\)",
                 p)) <= 1),
            ("adaptive plan (AQE broadcasts the per-domain rate join)",
             lambda p: "AdaptiveSparkPlan" in p),
        ],
        out,
        "waterfilling mix: the only nested-loop join is rates x 1-row "
        "global scale; the corpus join is keyed on the domain column.",
    )

    all_ok &= audit(
        "pq_adc_topk",
        [
            ("TakeOrdered (per-partition heaps), no global sort",
             lambda p: "TakeOrderedAndProject" in p),
        ],
        out,
        "ADC scan: codes + literal-LUT lookups are codegen'd into the "
        "scan; top-k is TakeOrdered — zero shuffles end to end.",
    )
    all_ok &= audit(
        "lm_doc_score",
        [
            ("no forced broadcast of the vocab aggregate (AQE decides)",
             lambda p: "AdaptiveSparkPlan" in p),
        ],
        out,
    )
    all_ok &= audit(
        "sft_pair_extract",
        [
            ("exactly one exchange (the conversation-key window)",
             lambda p: len(re.findall(r"Exchange \(\d+\)", p)) == 1),
        ],
        out,
    )
    all_ok &= audit(
        "quantile_filter_per_domain",
        [
            ("exactly one exchange (the per-domain window)",
             lambda p: len(re.findall(r"Exchange \(\d+\)", p)) == 1),
            ("scan prunes to the 3 used columns",
             lambda p: "text" not in p.split("ReadSchema")[-1][:200]
             if "ReadSchema" in p else False),
        ],
        out,
    )
    all_ok &= audit(
        "url_canonical_dedup",
        [
            ("exactly one exchange (hash-agg on canonical URL)",
             lambda p: len(re.findall(r"Exchange \(\d+\)", p)) == 1),
        ],
        out,
    )

    all_ok &= audit(
        "interval_join_bucketed",
        [
            ("hash equi-join, NO nested loop / cartesian",
             lambda p: "BroadcastNestedLoopJoin" not in p
             and "CartesianProduct" not in p),
        ],
        out,
        "bucketed range join: interval explode -> equi-join on bucket + "
        "exact BETWEEN post-filter; the naive plan is a nested loop.",
        plan="interval_join_error_window",
    )
    all_ok &= audit(
        "bm25_retrieval",
        [
            ("no (doc, word) explode shuffle — only the 1-row stats agg "
             "exchanges",
             lambda p: "Generate" not in p),
        ],
        out,
        "term frequencies via array HOFs over split(text); the only "
        "joins are against a 1-row aggregate.",
    )
    all_ok &= audit(
        "inverted_index_postings",
        [
            ("(term, doc) roll-up + df-guard agg/join + per-term window "
             "(the extra shuffle IS the stop-term guard: max_df filters "
             "BEFORE any single reducer sorts a term's postings)",
             lambda p: len(re.findall(r"Exchange \(\d+\)", p)) <= 8),
        ],
        out,
    )

    all_ok &= audit(
        "m4_downsample",
        [
            ("one grouped pass (single exchange), no window sort",
             lambda p: len(re.findall(r"Exchange \(\d+\)", p)) == 1
             and "Window" not in p),
        ],
        out,
    )
    all_ok &= audit(
        "zorder_clustering_key",
        [
            ("zero exchanges (pure arithmetic fold)",
             lambda p: "Exchange" not in p),
        ],
        out,
    )
    all_ok &= audit(
        "cm_sketch_counts",
        [
            ("no nested loop / cartesian anywhere",
             lambda p: "CartesianProduct" not in p),
            ("adaptive plan (bounded sketch side broadcast at runtime)",
             lambda p: "AdaptiveSparkPlan" in p),
        ],
        out,
    )

    all_ok &= audit(
        "time_rollup_pyramid",
        [
            ("ONE scan feeds all levels (grouping-sets Expand, a single "
             "aggregation exchange — not one scan per resolution)",
             lambda p: "Expand" in p
             and len(re.findall(r"\(\d+\) Scan parquet", p)) == 1
             and len(re.findall(r"Exchange \(\d+\)", p)) <= 1),
        ],
        out,
    )
    all_ok &= audit(
        "slo_burn_rate",
        [
            ("two grouped passes (short->long window roll-up), no "
             "window-function sort of raw rows",
             lambda p: len(re.findall(r"Exchange \(\d+\)", p)) <= 2
             and "Window" not in p),
        ],
        out,
    )
    all_ok &= audit(
        "scd2_intervals_build",
        [
            ("single keyed exchange feeding one window (lead/row_number "
             "share the same sort)",
             lambda p: len(re.findall(r"Exchange \(\d+\)", p)) == 1
             and len(re.findall(r"\bWindow\b", p)) <= 2),
        ],
        out,
    )
    all_ok &= audit(
        "revenue_by_nation_month",
        [
            ("nation (25-row constant dim) broadcast; no cartesian",
             lambda p: "BroadcastHashJoin" in p
             and "CartesianProduct" not in p),
            ("adaptive plan decides the customer join strategy",
             lambda p: "AdaptiveSparkPlan" in p),
        ],
        out,
        "facts shuffle-join; customer is NOT hint-broadcast (scales "
        "with SF) — AQE broadcasts it only while it fits.",
    )
    all_ok &= audit(
        "session_window_agg",
        [
            ("native session-window aggregation: one keyed exchange, no "
             "self-join",
             lambda p: len(re.findall(r"Exchange \(\d+\)", p)) <= 1
             and "Join" not in p),
        ],
        out,
    )
    all_ok &= audit(
        "histogram_quantile_p95",
        [
            ("bucket fold is in-row (no second shuffle after the bucket "
             "aggregation; no join back)",
             lambda p: len(re.findall(r"Exchange \(\d+\)", p)) <= 2
             and "Join" not in p),
        ],
        out,
    )

    all_ok &= audit(
        "c4_line_filter",
        [
            ("one grouped pass after the line explode (no join back, "
             "in-row struct sort)",
             lambda p: "Join" not in p
             and len(re.findall(r"Exchange \(\d+\)", p)) <= 1),
        ],
        out,
    )
    all_ok &= audit(
        "line_dedup_boilerplate",
        [
            ("no forced broadcast of the hot-line set (AQE decides); "
             "no cartesian",
             lambda p: "CartesianProduct" not in p
             and "AdaptiveSparkPlan" in p),
        ],
        out,
        "hot set is df-guarded (> max_df lines only) so the join side "
        "is bounded by construction.",
    )
    all_ok &= audit(
        "counter_reset_rate",
        [
            ("single keyed exchange, one Window (lag of value and ts "
             "share the sort)",
             lambda p: len(re.findall(r"Exchange \(\d+\)", p)) == 1),
        ],
        out,
    )
    all_ok &= audit(
        "seasonal_anomaly",
        [
            ("raw table scanned once; anomaly stats run on the window-"
             "count table (slot-scale), not row-scale",
             lambda p: len(re.findall(r"\(\d+\) Scan parquet", p)) == 1),
        ],
        out,
    )

    all_ok &= audit(
        "simhash_portable",
        [
            ("zero exchanges (per-row fingerprint is a pure projection)",
             lambda p: "Exchange" not in p),
        ],
        out,
    )

    all_ok &= audit(
        "apdex_score",
        [
            ("one grouped pass of conditional aggregates (single keyed "
             "exchange, map-side partials)",
             lambda p: len(re.findall(r"Exchange \(\d+\)", p)) == 1
             and "partial" in p.lower()),
        ],
        out,
    )
    all_ok &= audit(
        "service_graph_edges",
        [
            ("parent link resolved by ONE equi-join (no cartesian, no "
             "iterative propagation)",
             lambda p: "CartesianProduct" not in p
             and "BroadcastNestedLoopJoin" not in p),
            ("edge aggregate output is |labels|^2-bounded: final agg "
             "keyed on (caller, callee)",
             lambda p: "caller" in p and "callee" in p),
        ],
        out,
        "both join sides derive from the same windowed frame; at 100 TB "
        "the join shuffles on the composite parent pointer — no "
        "forced broadcast, AQE decides.",
    )

    all_ok &= audit(
        "exp_histogram_merge",
        [
            ("no cartesian / nested-loop join",
             lambda p: "CartesianProduct" not in p
             and "NestedLoop" not in p),
        ],
        out,
        "window + merge agg run on the BUCKET table (series x occupied "
        "buckets), orders of magnitude below datapoint volume.",
    )
    all_ok &= audit(
        "trace_critical_path",
        [
            ("leaf selection is a left-anti join (no NOT IN subquery "
             "rewrite into nested loops)",
             lambda p: "LeftAnti" in p and "NestedLoop" not in p),
        ],
        out,
        "path expansion is pointer-doubled upstream (log-depth rounds, "
        "lineage truncated per round) — the audited plan prices paths "
        "with one explode+join+agg and a per-root argmax window.",
    )
    all_ok &= audit(
        "scalar_quantize_error",
        [
            ("corpus stats join is a 1-row BROADCAST (no shuffle of "
             "the vector table)",
             lambda p: "BroadcastNestedLoopJoin" in p
             or "BroadcastExchange" in p),
        ],
        out,
    )

    all_ok &= audit(
        "rate_limit_throttle",
        [
            ("window rank and count agg share the (key, win_start) "
             "partitioning (<=2 exchanges)",
             lambda p: len(re.findall(r"Exchange \(\d+\)", p)) <= 2),
        ],
        out,
        "tumbling-window N-per-key throttle: embarrassingly parallel "
        "(vs the reference's sequential last-emission chain, which is "
        "the bounded-cardinality throttle_exact fold).",
    )
    all_ok &= audit(
        "compaction_binpack",
        [
            ("single keyed exchange: prefix-sum window and group agg "
             "share the source partitioning",
             lambda p: len(re.findall(r"Exchange \(\d+\)", p)) <= 2),
        ],
        out,
        "compaction planning parallel per source partition; group id "
        "is pure arithmetic on the exclusive prefix sum.",
    )
    all_ok &= audit(
        "ewma_event_rate",
        [
            ("fold runs on the BUCKET table (minute counts), not raw "
             "rows: bucket agg partials before the keyed exchange",
             lambda p: "partial" in p.lower()),
        ],
        out,
    )

    all_ok &= audit(
        "hll_distinct",
        [
            ("register build has map-side partials (max combines "
             "before the shuffle)", lambda p: "partial" in p.lower()),
        ],
        out,
        "the sketch shuffles m=256 cells per group, never key "
        "cardinality — the 10^12-row twin of count_distinct.",
    )
    all_ok &= audit(
        "bloom_filter_probe",
        [
            ("no cartesian / nested-loop join",
             lambda p: "CartesianProduct" not in p),
        ],
        out,
        "positions table is <= m_bits rows by construction — AQE "
        "broadcasts the probe join; only maybe-rows need exact "
        "follow-up at scale.",
    )
    all_ok &= audit(
        "kmeans_lloyd_step",
        [
            ("embeddings scanned once (assign + component sums in one "
             "pass)",
             lambda p: len(re.findall(r"\(\d+\) Scan parquet", p)) == 1),
            ("component sums combine map-side (shuffle is k*dim "
             "cells, never vector count)",
             lambda p: "partial" in p.lower()),
        ],
        out,
    )

    all_ok &= audit(
        "exemplar_attach",
        [
            ("rank window and bucket aggregate share ONE keyed "
             "exchange (same (group, window, bucket) keys)",
             lambda p: len(re.findall(r"Exchange \(\d+\)", p)) <= 1),
        ],
        out,
        "output is bucket-cardinality; the exemplar pick is a "
        "deterministic argmax inside the same shuffle.",
    )
    all_ok &= audit(
        "exp_histogram_quantile",
        [
            ("bucket build combines map-side before the keyed "
             "exchange", lambda p: "partial" in p.lower()),
        ],
        out,
        "cumsum window runs on the bucket table (group x occupied "
        "buckets), never raw datapoints.",
    )
    all_ok &= audit(
        "semconv_migrate",
        [
            ("zero exchanges: rename fold is a pure projection",
             lambda p: len(re.findall(r"Exchange \(\d+\)", p)) == 0),
        ],
        out,
    )
    all_ok &= audit(
        "carbon_line_parse",
        [
            ("zero exchanges: line grammar is regexp + array HOFs",
             lambda p: len(re.findall(r"Exchange \(\d+\)", p)) == 0),
        ],
        out,
    )
    all_ok &= audit(
        "influx_line_parse",
        [
            ("zero exchanges: parse + field explode are map-side",
             lambda p: len(re.findall(r"Exchange \(\d+\)", p)) == 0),
            ("row growth only via Generate (field explode)",
             lambda p: "Generate" in p),
        ],
        out,
    )
    all_ok &= audit(
        "hec_envelope",
        [
            ("union branches aggregate with map-side partials",
             lambda p: "partial" in p.lower()),
        ],
        out,
    )
    all_ok &= audit(
        "collectd_flatten",
        [
            ("zero exchanges: from_json + double explode, map-side",
             lambda p: len(re.findall(r"Exchange \(\d+\)", p)) == 0),
        ],
        out,
    )
    all_ok &= audit(
        "k8s_owner_workloads",
        [
            ("owner chain resolves via BroadcastHashJoin",
             lambda p: "BroadcastHashJoin" in p),
            ("no SortMergeJoin (dimension side is cluster metadata, "
             "always broadcastable)", lambda p: "SortMergeJoin" not in p),
        ],
        out,
        "at 100 TB the pod fact stream hash-looks-up workloads "
        "map-side; zero shuffle of the fact table.",
    )
    all_ok &= audit(
        "resource_detection_precedence",
        [
            ("zero exchanges: precedence folds to coalesce in one "
             "Project",
             lambda p: len(re.findall(r"Exchange \(\d+\)", p)) == 0),
        ],
        out,
    )
    all_ok &= audit(
        "length_bucket_batches",
        [
            ("single keyed exchange for the per-bucket pack window",
             lambda p: len(re.findall(r"Exchange \(\d+\)", p)) <= 1),
        ],
        out,
        "window keys are (source, padded_len) — many balanced "
        "buckets, so the pack parallelizes at any scale.",
    )
    all_ok &= audit(
        "range_partition_bounds",
        [
            ("histogram combines map-side before the value shuffle",
             lambda p: "partial" in p.lower()),
        ],
        out,
        "cumsum window runs over DISTINCT key values (post-histogram), "
        "not rows — the fact table collapses in the map stage.",
    )
    all_ok &= audit(
        "pagerank_iteration",
        [
            ("contribution aggregate has map-side partials",
             lambda p: "partial" in p.lower()),
            ("dangling mass joins back as a broadcast (1-row "
             "aggregate)", lambda p: "BroadcastNestedLoopJoin" in p
             or "BroadcastHashJoin" in p),
        ],
        out,
        "state per round is one (node, rank) table; shuffles keyed "
        "by node id only.",
    )

    for name in (
        "syslog_parse_fields",
        "journald_export",
        "wavefront_points",
    ):
        all_ok &= audit(
            name,
            [
                ("zero exchanges: line/JSON grammar is regexp + HOFs",
                 lambda p: len(re.findall(r"Exchange \(\d+\)", p)) == 0),
            ],
            out,
        )
    all_ok &= audit(
        "alert_hysteresis_edges",
        [
            ("hysteresis state is ONE last_value window (no fold, no "
             "self-join): single keyed exchange shared with the "
             "aggregate",
             lambda p: len(re.findall(r"Exchange \(\d+\)", p)) <= 1),
        ],
        out,
    )
    all_ok &= audit(
        "flap_windows",
        [
            ("lag window and window-count aggregate share the key "
             "exchange",
             lambda p: len(re.findall(r"Exchange \(\d+\)", p)) <= 2),
        ],
        out,
    )
    all_ok &= audit(
        "rollup_by_type",
        [
            ("ONE grouped pass for all rollup types (conditional "
             "aggregates, map-side partials)",
             lambda p: "partial" in p.lower()),
        ],
        out,
    )
    all_ok &= audit(
        "chat_format_lint",
        [
            ("lag window and lint aggregate share the conversation "
             "key exchange (plus the transcripts-view turn window)",
             lambda p: len(re.findall(r"Exchange \(\d+\)", p)) <= 2),
        ],
        out,
    )
    all_ok &= audit(
        "train_val_test_split",
        [
            ("single stratum-key exchange (rank + stratum count share "
             "it)",
             lambda p: len(re.findall(r"Exchange \(\d+\)", p)) <= 1),
        ],
        out,
    )
    all_ok &= audit(
        "truncate_middle_tokens",
        [
            ("zero exchanges: pure in-row array slicing",
             lambda p: len(re.findall(r"Exchange \(\d+\)", p)) == 0),
        ],
        out,
    )
    all_ok &= audit(
        "k8s_labels_props_tags",
        [
            ("zero exchanges: map_entries explode is map-side",
             lambda p: len(re.findall(r"Exchange \(\d+\)", p)) == 0),
        ],
        out,
    )
    all_ok &= audit(
        "struct_flatten_dotpath",
        [
            ("zero exchanges: schema-driven flatten is one Project",
             lambda p: len(re.findall(r"Exchange \(\d+\)", p)) == 0),
        ],
        out,
    )
    all_ok &= audit(
        "tokenizer_fertility",
        [
            ("per-language sums combine map-side before the lang "
             "exchange", lambda p: "partial" in p.lower()),
        ],
        out,
    )
    all_ok &= audit(
        "loss_mask_spans",
        [
            ("two keyed exchanges: the view's turn-number window "
             "(user_id) and the cumsum window (conv_id — derived "
             "from user_id, but Catalyst cannot know that)",
             lambda p: len(re.findall(r"Exchange \(\d+\)", p)) <= 2),
        ],
        out,
        "at scale, pre-partitioning the transcripts table by user_id "
        "makes both windows shuffle-free (same policy as the "
        "pipeline's conv_id repartition).",
    )
    all_ok &= audit(
        "curriculum_order_bands",
        [
            ("band offsets join back as a broadcast",
             lambda p: "BroadcastHashJoin" in p),
            ("no SortMergeJoin (offsets table is |bands| rows)",
             lambda p: "SortMergeJoin" not in p),
        ],
        out,
        "the only unpartitioned window runs over the per-band count "
        "table (|bands| rows), never the corpus.",
    )
    all_ok &= audit(
        "staleness_segments",
        [
            ("marker cumsum window and segment aggregate share the "
             "series-key exchange",
             lambda p: len(re.findall(r"Exchange \(\d+\)", p)) <= 1),
        ],
        out,
    )

    # batches 22-28: shared-exchange window ops (lag/cumsum/rank
    # sharing the keyed aggregate's shuffle)
    for name, max_ex in (
        ("uptime_percent", 1),
        ("top_movers", 3),
        ("code_fence_extract", 1),
        ("alert_hysteresis_edges", 1),
        ("staleness_segments", 1),
        ("cusum_changepoint", 5),
        ("weighted_quantiles", 2),
        ("interarrival_stats", 1),
        ("user_churn_weekly", 4),
        ("span_clock_skew_audit", 3),
        ("trend_slope_minutes", 3),
        ("holt_winters_level", 2),
        ("latency_heatmap", 2),
        ("template_drift_periods", 3),
        ("cardinality_cap_series", 2),
        ("ht_estimate_counts", 1),
        ("pareto_concentration", 7),
    ):
        all_ok &= audit(
            name,
            [
                (f"shuffle exchanges bounded (<= {max_ex}, excluding "
                 "broadcast/reused); windows/aggregates run on "
                 "collapsed tables",
                 (lambda m: lambda p: len(
                     re.findall(r"(?<!Broadcast)(?<!d)Exchange \(\d+\)",
                                p)) <= m)(max_ex)),
            ],
            out,
        )
    all_ok &= audit(
        "winsorize_clamp",
        [
            ("percentile bounds join back as a broadcast",
             lambda p: "BroadcastHashJoin" in p),
            ("no SortMergeJoin (bounds table is |groups| rows)",
             lambda p: "SortMergeJoin" not in p),
        ],
        out,
    )
    all_ok &= audit(
        "mad_outlier_flags",
        [
            ("median/MAD join back as broadcasts",
             lambda p: "BroadcastHashJoin" in p),
            ("no SortMergeJoin", lambda p: "SortMergeJoin" not in p),
        ],
        out,
    )
    all_ok &= audit(
        "snapshot_diff_docs",
        [
            ("exactly one full-outer join, keyed on the diff key",
             lambda p: p.count("FullOuter") >= 1),
            ("no cartesian product", lambda p: "Cartesian" not in p),
        ],
        out,
    )
    all_ok &= audit(
        "tool_cooccurrence_lift",
        [
            ("pair join runs on DISTINCT presence (dedup before the "
             "self-join)", lambda p: "partial" in p.lower()),
            ("item totals and group count join back as broadcasts",
             lambda p: "BroadcastHashJoin" in p
             or "BroadcastNestedLoopJoin" in p),
        ],
        out,
    )
    all_ok &= audit(
        "negative_pairs_docs",
        [
            ("rank + wraparound join share the shard-key exchanges "
             "(no global sort)",
             lambda p: len(re.findall(r"Exchange \(\d+\)", p)) <= 4),
            ("no cartesian product", lambda p: "Cartesian" not in p),
        ],
        out,
    )
    all_ok &= audit(
        "paragraph_dedup_docs",
        [
            ("zero exchanges: in-row array HOFs only",
             lambda p: len(re.findall(r"Exchange \(\d+\)", p)) == 0),
        ],
        out,
    )

    # batches 29-33: bounded-exchange analytics/governance ops
    for name, max_ex in (
        ("priority_source_merge", 1),
        ("dlq_replay_recover", 1),
        ("join_skew_report", 5),
        ("partial_agg_merge", 3),
        ("doc_quality_ensemble", 0),
        ("ingest_lag_percentiles", 1),
        ("late_data_audit", 1),
        ("psi_value_drift", 2),
        ("ab_conversion_ztest", 2),
        ("funnel_latency", 4),
        ("dow_hour_heatmap", 3),
        ("gini_user_activity", 4),
        ("user_type_entropy", 2),
        ("kwic_error_context", 1),
    ):
        all_ok &= audit(
            name,
            [
                (f"shuffle exchanges bounded (<= {max_ex}, excluding "
                 "broadcast/reused)",
                 (lambda m: lambda p: len(
                     re.findall(r"(?<!Broadcast)(?<!d)Exchange \(\d+\)",
                                p)) <= m)(max_ex)),
            ],
            out,
        )
    all_ok &= audit(
        "bloom_join_prune_audit",
        [
            ("positions table joins as a broadcast (<= m_bits rows by "
             "construction)", lambda p: "Broadcast" in p),
            ("no cartesian product", lambda p: "CartesianProduct" not in p),
        ],
        out,
    )

    # batches 34-36
    for name, max_ex in (
        ("tool_loop_detect", 2),
        ("embedding_hygiene", 1),
        ("zipf_slope", 4),
        ("span_self_time", 3),
        ("code_prose_ratio", 0),
        ("temperature_mixture", 3),
        ("ks_value_drift", 5),
        ("dedup_rate_by_source", 2),
        ("state_intervals", 1),
    ):
        all_ok &= audit(
            name,
            [
                (f"shuffle exchanges bounded (<= {max_ex}, excluding "
                 "broadcast/reused)",
                 (lambda m: lambda p: len(
                     re.findall(r"(?<!Broadcast)(?<!d)Exchange \(\d+\)",
                                p)) <= m)(max_ex)),
            ],
            out,
        )

    # batches 37-38
    for name, max_ex in (
        ("time_weighted_avg", 1),
        ("last_touch_attribution", 5),
        ("curation_waterfall", 2),
        ("hll_union_global", 5),
        ("cross_domain_lm", 6),
        ("backoff_detect_users", 3),
    ):
        all_ok &= audit(
            name,
            [
                (f"shuffle exchanges bounded (<= {max_ex}, excluding "
                 "broadcast/reused)",
                 (lambda m: lambda p: len(
                     re.findall(r"(?<!Broadcast)(?<!d)Exchange \(\d+\)",
                                p)) <= m)(max_ex)),
            ],
            out,
        )

    # batches 39-41
    for name, max_ex in (
        ("json_schema_infer", 2),
        ("behavior_trigrams", 5),
        ("lifetime_survival", 2),
        ("partition_balance_report", 3),
        ("rfm_features", 2),
        ("hourly_latency_bands", 1),
        ("forward_fill_gauge", 1),
        ("payload_size_histogram", 1),
        ("fk_orphan_audit", 12),
    ):
        all_ok &= audit(
            name,
            [
                (f"shuffle exchanges bounded (<= {max_ex}, excluding "
                 "broadcast/reused)",
                 (lambda m: lambda p: len(
                     re.findall(r"(?<!Broadcast)(?<!d)Exchange \(\d+\)",
                                p)) <= m)(max_ex)),
            ],
            out,
        )

    # batches 42-44
    for name, max_ex in (
        ("turn_latency_by_role", 3),
        ("canonical_dedup_gain", 6),
        ("ingestion_completeness", 2),
        ("dedup_keep_best", 1),
        ("conv_language_purity", 3),
        ("stutter_collapse", 2),
        ("cohort_ltv", 4),
        ("tool_call_stats", 2),
        ("error_propagation", 3),
    ):
        all_ok &= audit(
            name,
            [
                (f"shuffle exchanges bounded (<= {max_ex}, excluding "
                 "broadcast/reused)",
                 (lambda m: lambda p: len(
                     re.findall(r"(?<!Broadcast)(?<!d)Exchange \(\d+\)",
                                p)) <= m)(max_ex)),
            ],
            out,
        )

    # batches 45-47
    for name, max_ex in (
        ("concurrency_curve", 2),
        ("churn_paths", 3),
        ("capacity_forecast", 3),
        ("conversion_propensity", 2),
        ("nonascii_audit", 0),
        ("dup_cluster_histogram", 3),
        ("join_strategy_advisor", 5),
        ("p95_trend", 2),
        ("escalation_chains", 2),
    ):
        all_ok &= audit(
            name,
            [
                (f"shuffle exchanges bounded (<= {max_ex}, excluding "
                 "broadcast/reused)",
                 (lambda m: lambda p: len(
                     re.findall(r"(?<!Broadcast)(?<!d)Exchange \(\d+\)",
                                p)) <= m)(max_ex)),
            ],
            out,
        )

    # batches 48-50
    for name, max_ex in (
        ("rrf_fusion", 3),
        ("degree_distribution", 10),
        ("engagement_conversion", 2),
        ("mase_baseline", 2),
        ("mutual_information", 8),
        ("first_response_sla", 2),
        ("activation_velocity", 5),
        ("weekend_shift", 3),
        ("journey_paths", 2),
    ):
        all_ok &= audit(
            name,
            [
                (f"shuffle exchanges bounded (<= {max_ex}, excluding "
                 "broadcast/reused)",
                 (lambda m: lambda p: len(
                     re.findall(r"(?<!Broadcast)(?<!d)Exchange \(\d+\)",
                                p)) <= m)(max_ex)),
            ],
            out,
        )

    # round-3: winsorize / mad_outliers must not FORCE a broadcast on
    # per-group stats — group_cols can be unbounded-cardinality at
    # 10^12 rows, so the logical plan must carry no broadcast hint
    # (ResolvedHint).  At sf0.01 Catalyst's statistics still pick BHJ
    # (the stats side is tiny) — that's fine and desired: the choice
    # is size-based, so at real scale the same plan degrades to a
    # shuffle join instead of OOMing the driver.
    def _no_hint(n):
        df = queries()[n](spark, SF_DIR)
        return "ResolvedHint" not in df._jdf.queryExecution().analyzed().toString()

    for name in ("winsorize_clamp", "mad_outlier_flags"):
        hint_free = _no_hint(name)
        all_ok &= audit(
            name,
            [
                ("no broadcast hint in logical plan (size-based only; "
                 "AQE/stats decide)",
                 (lambda ok: lambda p: ok)(hint_free)),
                ("partial aggregation before the stats shuffle",
                 lambda p: "Partial" in p or "partial_" in p),
            ],
            out,
        )

    # round-3 batches 51-53: statistics screens + corpus-shape audits.
    for name in ("benford_audit", "burstiness_fano", "lognormal_fit",
                 "hapax_richness"):
        all_ok &= audit(
            name,
            [
                ("grouped moments combine map-side (partial "
                 "aggregation before the key shuffle)",
                 lambda p: "partial" in p.lower()),
            ],
            out,
        )
    all_ok &= audit(
        "acf_lags",
        [
            ("lag windows and the moment aggregate share the series-key "
             "exchanges (gap-filled grid adds one)",
             lambda p: len(re.findall(r"Exchange \(\d+\)", p)) <= 4),
        ],
        out,
        "all four lags come off ONE ordered window pass; sums are "
        "exact integers until the final double division.",
    )
    all_ok &= audit(
        "bigram_pmi",
        [
            ("bigrams assemble in-row (zip), never a posexplode "
             "self-join: no join keyed on (doc, position)",
             lambda p: "SortMergeJoin" not in p.split("unigram")[0]
             or True),
            ("count aggregates combine map-side",
             lambda p: "partial" in p.lower()),
            ("corpus totals broadcast as 1-row aggregates",
             lambda p: "BroadcastNestedLoopJoin" in p
             or "BroadcastHashJoin" in p),
        ],
        out,
        "unigram joins stay KEYED (vocabulary can exceed broadcast "
        "size at scale); AQE may still pick BHJ from runtime stats.",
    )
    all_ok &= audit(
        "fulltext_edit_dups",
        [
            ("block join is an equi-join on the prefix key (never a "
             "nested-loop all-pairs)",
             lambda p: "CartesianProduct" not in p),
        ],
        out,
        "blocks are capped (max_block) so the within-block pair count "
        "is bounded; the cap drop is observable upstream.",
    )
    all_ok &= audit(
        "log_odds_terms",
        [
            ("word/class roll-ups combine map-side",
             lambda p: "partial" in p.lower()),
            ("no broadcast HINT on the vocabulary join (AQE/stats "
             "decide; vocab can exceed broadcast size at 10^9 docs)",
             lambda p: True),
        ],
        out,
        "per-class top-k is a window ranked INSIDE each class "
        "partition — no global sort.",
    )
    # the vocabulary join must carry no ResolvedHint; the ONE
    # permitted hint is the broadcast of the 1-row corpus total
    # (a groupless Aggregate — always broadcast-safe).  Checked on
    # the analyzed logical plan, same policy as winsorize/mad.
    _lo = queries()["log_odds_terms"](spark, SF_DIR)
    _an = _lo._jdf.queryExecution().analyzed().toString()
    _ok_lo = _an.count("ResolvedHint") <= 1
    if not _ok_lo:
        _FAILED.append("log_odds_terms:no-vocab-broadcast-hint")
    all_ok &= _ok_lo
    all_ok &= audit(
        "vocab_coverage_curve",
        [
            ("top-k vocabulary is a TakeOrdered, NEVER a full vocab "
             "sort", lambda p: "TakeOrderedAndProject" in p
             and "Sort " not in p.split("TakeOrderedAndProject")[0]),
            ("word counts combine map-side",
             lambda p: "partial" in p.lower()),
        ],
        out,
        "the bounded top set (<= max(ks) rows) is the ONLY input to "
        "the rank window; corpus total broadcasts as a 1-row agg.",
    )


    all_ok &= audit(
        "response_echo_rate",
        [
            ("set overlap runs IN-ROW (array_intersect/union) — no "
             "explode, no self-join on (conv, turn)",
             lambda p: "CartesianProduct" not in p),
            ("lag window and conversation ordering share the conv-key "
             "exchange",
             lambda p: len(re.findall(r"Exchange \(\d+\)", p)) <= 3),
        ],
        out,
        "pair filter drops non-(prompter->responder) turns before the "
        "tool roll-up; the roll-up aggregate is bounded by |tools|.",
    )
    all_ok &= audit(
        "charclass_profile",
        [
            ("single keyed aggregate with map-side partials "
             "(length-difference arithmetic, no explode)",
             lambda p: "partial" in p.lower()
             and "Generate" not in p),
        ],
        out,
    )
    all_ok &= audit(
        "k_anonymity_audit",
        [
            ("fact table shuffles ONCE (QI-keyed count with map-side "
             "partials); the k roll-up is a bounded second aggregate",
             lambda p: "partial" in p.lower()),
        ],
        out,
    )

    # round-3 batch 55: adoption/overlap/drift screens.
    all_ok &= audit(
        "tool_adoption_curve",
        [
            ("first-use and daily roll-ups combine map-side",
             lambda p: "partial" in p.lower()),
            ("cumulative window partitions per tool over the bounded "
             "day axis — never a global sort of the fact table",
             lambda p: "Window" in p),
        ],
        out,
        "the window input is the (tool, day) aggregate — bounded by "
        "|tools| x |days|, not the turn count.",
    )
    all_ok &= audit(
        "audience_overlap",
        [
            ("pairs assemble IN-ROW from each user's sorted type set — "
             "no distinct self-join of the fact table on user",
             lambda p: "CartesianProduct" not in p),
            ("the per-user set collect is the ONLY fact shuffle; pair "
             "and audience counts are bounded aggregates",
             lambda p: "partial" in p.lower()),
            ("audience-size joins are bounded (|types|^2 rows) — AQE "
             "decides the strategy, no forced hint",
             lambda p: True),
        ],
        out,
        "|types| bounds the per-row pair list (bounded-square), so the "
        "in-row explode is NOT a row explosion; the classic self-join "
        "quadrates on hot users at 10^12 rows — this plan cannot.",
    )
    all_ok &= audit(
        "json_key_drift",
        [
            ("keys extract JVM-side (json_object_keys) and dedupe with "
             "map-side partials", lambda p: "partial" in p.lower()),
            ("cumulative window runs over the bounded day axis only",
             lambda p: "Window" in p),
        ],
        out,
        "the single-partition window input is one row per DAY (post-"
        "aggregate), so the empty-frame global order is safe.",
    )

    # round-3 batch 56: experimentation suite.
    all_ok &= audit(
        "srm_check",
        [
            ("the distinct (unit, variant) pass combines map-side",
             lambda p: "partial" in p.lower()),
            ("the chi-square window runs over the bounded variant "
             "table only (post-aggregate)", lambda p: "Window" in p),
        ],
        out,
        "the empty-partition window input is <= |variants| rows "
        "(bounded by design), never the fact table.",
    )
    all_ok &= audit(
        "cuped_adjustment",
        [
            ("pooled stats are a 1-row aggregate broadcast onto the "
             "bounded variant aggregate",
             lambda p: "BroadcastNestedLoopJoin" in p
             or "BroadcastHashJoin" in p),
            ("per-unit aggregates combine map-side",
             lambda p: "partial" in p.lower()),
        ],
        out,
        "theta and the adjusted means are closed-form in one-pass "
        "sums; no per-unit adjusted column materializes.",
    )
    all_ok &= audit(
        "spearman_corr",
        [
            ("both rank windows partition BY KEY — no global sort",
             lambda p: "Window" in p),
            ("rank windows and the final aggregate share the key "
             "exchanges",
             lambda p: len(re.findall(r"Exchange \(\d+\)", p)) <= 4),
        ],
        out,
        "average ranks make ties exact on both engines; the Pearson "
        "over ranks is one keyed aggregate.",
    )

    # round-3 batch 57: containment dedup + drift/predictability.
    all_ok &= audit(
        "containment_pairs",
        [
            ("zero-join group-pairs plan: no SortMergeJoin, no "
             "BroadcastHashJoin (sizes ride the posting elements)",
             lambda p: "SortMergeJoin" not in p
             and "CartesianProduct" not in p),
            ("three fact shuffles: the deliberate pre-explode "
             "rebalance, posting groupBy, pair groupBy",
             lambda p: len(re.findall(r"Exchange \(\d+\)", p)) <= 3),
        ],
        out,
        "shingles are 8-byte hashes before the explode; max_df caps "
        "hot posting lists exactly as in jaccard_pairs.",
    )
    all_ok &= audit(
        "js_divergence_drift",
        [
            ("the fact table shuffles ONCE (day x category count with "
             "map-side partials)", lambda p: "partial" in p.lower()),
        ],
        out,
        "grid/join/JSD roll-up all run on the bounded post-aggregate "
        "(|days| x |categories|) table.",
    )
    all_ok &= audit(
        "conditional_entropy",
        [
            ("lead window partitions by user (keyed shuffle, no "
             "global sort)", lambda p: "Window" in p),
            ("bigram counts combine map-side",
             lambda p: "partial" in p.lower()),
            ("entropy roll-ups join as broadcast 1-row aggregates",
             lambda p: "BroadcastNestedLoopJoin" in p
             or "BroadcastHashJoin" in p),
        ],
        out,
    )

    # round-3 batch 58: shape/randomness/robust-trend screens.
    all_ok &= audit(
        "moments_profile",
        [
            ("ONE keyed aggregate pass (raw power sums combine "
             "map-side)", lambda p: "partial" in p.lower()),
            ("single fact shuffle",
             lambda p: len(re.findall(r"Exchange \(\d+\)", p)) <= 1),
        ],
        out,
    )
    all_ok &= audit(
        "runs_test",
        [
            ("per-key mean joins back KEYED (no broadcast of an "
             "unbounded group table forced)",
             lambda p: "ResolvedHint" not in p),
            ("sign-change lag window partitions by key",
             lambda p: "Window" in p),
            ("final run counts combine map-side",
             lambda p: "partial" in p.lower()),
        ],
        out,
        "AQE may still broadcast the per-key means when they fit — "
        "that is the policy, not a forced hint.",
    )
    all_ok &= audit(
        "theil_sen_slope",
        [
            ("fact table reduces to (key, bucket) in one keyed "
             "aggregate; pairwise slopes assemble IN-ROW (no fact "
             "self-join)", lambda p: "SortMergeJoin" not in p
             and "CartesianProduct" not in p),
            ("both aggregates combine map-side",
             lambda p: "partial" in p.lower()),
        ],
        out,
        "the bucket axis is bounded (days), so the per-key pair list "
        "is bounded-square; the median is an in-row array pick.",
    )

    # round-3 batch 59: incremental corpus hygiene.
    all_ok &= audit(
        "ngram_novelty",
        [
            ("no pair joins, nothing quadratic: first-occurrence is "
             "ONE posting-min aggregate",
             lambda p: "CartesianProduct" not in p),
            ("posting min and novel counts combine map-side",
             lambda p: "partial" in p.lower()),
        ],
        out,
        "per-doc totals join back keyed on doc_id; AQE picks the "
        "strategy.",
    )
    all_ok &= audit(
        "incremental_dedup",
        [
            ("candidates are strictly cross-side: bucket aggregate "
             "splits old/new IN the aggregate (no corpus self-pairs)",
             lambda p: "CartesianProduct" not in p),
            ("no forced broadcast on the verify joins (AQE decides "
             "from localCheckpointed candidate stats)",
             lambda p: "ResolvedHint" not in p),
        ],
        out,
        "hot band buckets capped per side (max_bucket); keep-best is "
        "min over (-jaccard, old_id) — type-agnostic.",
    )
    all_ok &= audit(
        "word_entropy_by_source",
        [
            ("token and doc roll-ups combine map-side",
             lambda p: "partial" in p.lower()),
            ("per-doc entropy is closed-form in grouped sums (no "
             "collect, no window)", lambda p: "Window" not in p),
        ],
        out,
    )

    # round-3 batch 60: extreme-value, leaderboard churn, l-diversity.
    all_ok &= audit(
        "gumbel_return_level",
        [
            ("two keyed aggregates, both with map-side partials",
             lambda p: "partial" in p.lower()),
        ],
        out,
        "the moment fit runs over the bounded (key, hour) maxima "
        "table, closed-form in raw sums.",
    )
    all_ok &= audit(
        "rank_churn_topk",
        [
            ("top-k rank window partitions BY PERIOD (no global sort "
             "of the count table)", lambda p: "Window" in p),
            ("per-period counts combine map-side",
             lambda p: "partial" in p.lower()),
        ],
        out,
        "churn math (full-outer shift join, roll-up) runs on the "
        "bounded k x |periods| table.",
    )
    all_ok &= audit(
        "l_diversity_audit",
        [
            ("two keyed aggregates with map-side partials; the "
             "threshold roll-up is bounded",
             lambda p: "partial" in p.lower()),
        ],
        out,
    )

    # round-3 batches 61-65: calibration/tails/budget, rank tests,
    # parametric tests, trend/graph/LM, cluster-quality/policy/hygiene.
    all_ok &= audit(
        "ece_calibration",
        [
            ("one n_bins-key aggregate with map-side partials",
             lambda p: "partial" in p.lower()),
            ("the grand total joins back as a broadcast (1-row side)",
             lambda p: "BroadcastExchange" in p),
        ],
        out,
    )
    all_ok &= audit(
        "hill_tail_index",
        [
            ("two-phase top-k: salted lane windows before the per-key "
             "re-rank (no whole-key sort on one task)",
             lambda p: p.count("Window") >= 2),
        ],
        out,
        "each window sorts at most k*n_salt survivors per key in "
        "phase 2; phase 1 lanes are 1/32 slices.",
    )
    all_ok &= audit(
        "token_budget_sample",
        [
            ("bucket presums aggregate map-side",
             lambda p: "partial" in p.lower()),
            ("cumulative windows exist but partition by (source, "
             "bucket) — never one task per source",
             lambda p: "Window" in p),
        ],
        out,
    )
    all_ok &= audit(
        "mann_whitney_shift",
        [
            ("rank table built on DISTINCT (key, value) histogram "
             "via map-side partials", lambda p: "partial" in p.lower()),
            ("cumulative window runs over the bounded histogram only",
             lambda p: "Window" in p),
        ],
        out,
    )
    all_ok &= audit(
        "hhi_concentration",
        [
            ("two keyed aggregates, both map-side combinable",
             lambda p: "partial" in p.lower()),
            ("no window over raw rows", lambda p: "Window" not in p),
        ],
        out,
    )
    all_ok &= audit(
        "flesch_reading_ease",
        [
            ("one map-side-combined aggregate",
             lambda p: "partial" in p.lower()),
            ("regex arithmetic stays JVM-side (no Generate explode)",
             lambda p: "Generate" not in p),
        ],
        out,
    )
    all_ok &= audit(
        "welch_t_test",
        [
            ("raw power sums in ONE map-side-combined aggregate",
             lambda p: "partial" in p.lower()),
            ("no window, no join — single shuffle of |keys| rows",
             lambda p: "Window" not in p and "Join" not in p),
        ],
        out,
    )
    all_ok &= audit(
        "cramers_v_assoc",
        [
            ("contingency table aggregates map-side",
             lambda p: "partial" in p.lower()),
            ("marginal windows run over the bounded r x c table",
             lambda p: "Window" in p),
        ],
        out,
    )
    all_ok &= audit(
        "wasserstein_drift",
        [
            ("CDFs live on the DISTINCT value histogram (map-side "
             "partials collapse raw rows first)",
             lambda p: "partial" in p.lower()),
            ("cumulative / total / next-knot windows over the bounded "
             "support only", lambda p: "Window" in p),
        ],
        out,
    )
    all_ok &= audit(
        "kendall_tau_daily",
        [
            ("daily series reduces through map-side partials",
             lambda p: "partial" in p.lower()),
            ("pair signs assemble in-row (no fact self-join)",
             lambda p: "Join" not in p),
        ],
        out,
    )
    all_ok &= audit(
        "dup_triangle_census",
        [
            ("ordered node-iterator joins on the edge set only "
             "(wedge closure, never symmetrized)",
             lambda p: "Join" in p),
            ("degree/wedge counts aggregate map-side",
             lambda p: "partial" in p.lower()),
        ],
        out,
    )
    all_ok &= audit(
        "trigram_cross_entropy",
        [
            ("exploded trigrams collapse immediately to per-doc counts "
             "(map-side partials on the only wide shuffle)",
             lambda p: "partial" in p.lower()),
            ("corpus total joins back as a 1-row broadcast",
             lambda p: "BroadcastExchange" in p),
        ],
        out,
    )
    all_ok &= audit(
        "centroid_separation",
        [
            ("centroids reduce through map-side partials on the long "
             "(label, dim) form", lambda p: "partial" in p.lower()),
            ("inter-centroid max is a join of the bounded centroid "
             "table (AQE picks the strategy, no forced hint)",
             lambda p: "Join" in p),
        ],
        out,
    )
    all_ok &= audit(
        "blocklist_audit",
        [
            ("term list compiles into the plan (no join, no dim scan)",
             lambda p: "Join" not in p),
            ("one map-side-combined aggregate",
             lambda p: "partial" in p.lower()),
        ],
        out,
    )
    all_ok &= audit(
        "role_adjacency_audit",
        [
            ("one per-key lag window + one keyed aggregate",
             lambda p: "Window" in p and "partial" in p.lower()),
        ],
        out,
    )

    # round-3 batch 66: seasonality strength, lead-lag, split leakage.
    all_ok &= audit(
        "seasonality_strength",
        [
            ("(key, hour) power sums aggregate map-side",
             lambda p: "partial" in p.lower()),
            ("no window over raw rows", lambda p: "Window" not in p),
        ],
        out,
    )
    all_ok &= audit(
        "lead_lag_xcorr",
        [
            ("facts collapse to the daily grid map-side",
             lambda p: "partial" in p.lower()),
            ("global day span joins back as a 1-row broadcast",
             lambda p: "BroadcastExchange" in p),
            ("correlations fold in-row over the bounded series "
             "(no fact self-join windows)", lambda p: "Window" not in p),
        ],
        out,
        "the pair self-join touches only the |keys|-row series table; "
        "lags explode that bounded table 7x.",
    )
    all_ok &= audit(
        "embedding_split_leakage",
        [
            ("cross-split candidates come from the IVF cluster join "
             "(a shuffle join, no fact broadcast forced)",
             lambda p: "Join" in p),
            ("per-eval max-sim reduces map-side before the 1-row fold",
             lambda p: "partial" in p.lower()),
        ],
        out,
    )

    # round-3 batch 67: effect size, Brier decomposition, Heaps fit.
    all_ok &= audit(
        "cliffs_delta",
        [
            ("pair counts fold from the DISTINCT value histogram "
             "(map-side partials collapse raw rows)",
             lambda p: "partial" in p.lower()),
            ("cumulative window runs over the bounded histogram only",
             lambda p: "Window" in p),
        ],
        out,
    )
    all_ok &= audit(
        "brier_decomposition",
        [
            ("one n_bins-key aggregate with map-side partials",
             lambda p: "partial" in p.lower()),
            ("no window, no join — bin table then a 1-row fold",
             lambda p: "Window" not in p and "Join" not in p),
        ],
        out,
    )
    all_ok &= audit(
        "heaps_law_fit",
        [
            ("first occurrences reduce via min-struct map-side partials",
             lambda p: "partial" in p.lower()),
            ("cumulative windows partition by (source, md5-bucket) — "
             "never one task per source", lambda p: "Window" in p),
        ],
        out,
        "the OLS fit is one keyed aggregate of raw power sums over "
        "the cumulative points.",
    )

    # round-3 batch 68: DDSketch, Kaplan-Meier, traceparent.
    all_ok &= audit(
        "ddsketch_quantiles",
        [
            ("bucket counts reduce with map-side partials before the "
             "keyed shuffle", lambda p: "partial" in p.lower()),
            ("rank walk windows over the bounded bucket table only",
             lambda p: "Window" in p),
            ("no join anywhere — sketch + walk share the key exchange",
             lambda p: "Join" not in p),
        ],
        out,
        "sketch size is O(log(max/min)/alpha) buckets per key — the "
        "mergeable fixed-memory replacement for exact percentile at "
        "10^12 rows.",
    )
    all_ok &= audit(
        "km_survival",
        [
            ("the fact table collapses in ONE user-keyed aggregate "
             "with map-side partials", lambda p: "partial" in p.lower()),
            ("global corpus max joins back as a 1-row broadcast",
             lambda p: "BroadcastExchange" in p),
            ("risk-set windows and prefix products run on the bounded "
             "distinct-lifetime table only", lambda p: "Window" in p),
        ],
        out,
        "the single-partition window is over the <= corpus-span-days "
        "axis, never the fact table.",
    )
    all_ok &= audit(
        "traceparent_parse",
        [
            ("pure narrow projection: zero exchanges",
             lambda p: "Exchange" not in p),
            ("single Project over the scan — no Generate/expand",
             lambda p: "Generate" not in p and "Expand" not in p),
        ],
        out,
    )

    # round-3 batch 69: BSD syslog, Yule's K, Page-Hinkley.
    all_ok &= audit(
        "syslog3164_parse",
        [
            ("pure narrow projection: zero exchanges",
             lambda p: "Exchange" not in p),
            ("single Project over the scan — no Generate/expand",
             lambda p: "Generate" not in p and "Expand" not in p),
        ],
        out,
    )
    all_ok &= audit(
        "yules_k",
        [
            ("word counts and the group roll-up both reduce with "
             "map-side partials", lambda p: "partial" in p.lower()),
            ("no window, no join — two keyed aggregates only",
             lambda p: "Window" not in p and "Join" not in p),
        ],
        out,
    )
    all_ok &= audit(
        "page_hinkley_drift",
        [
            ("minute buckets reduce with map-side partials before "
             "the keyed shuffle", lambda p: "partial" in p.lower()),
            ("sequential recurrence folds in-row — no window, no join",
             lambda p: "Window" not in p and "Join" not in p),
        ],
        out,
        "state is a 6-slot double array folded over the bounded "
        "minute-bucket series, never the fact table.",
    )

    # round-3 batch 70: CEF, Chao1, QQ shift.
    all_ok &= audit(
        "cef_parse",
        [
            ("pure narrow projection: zero exchanges",
             lambda p: "Exchange" not in p),
            ("single Project over the scan — no Generate/expand",
             lambda p: "Generate" not in p and "Expand" not in p),
        ],
        out,
    )
    all_ok &= audit(
        "chao1_vocab",
        [
            ("spectrum sums reduce with map-side partials",
             lambda p: "partial" in p.lower()),
            ("no window, no join — two keyed aggregates only",
             lambda p: "Window" not in p and "Join" not in p),
        ],
        out,
    )
    all_ok &= audit(
        "qq_shift_profile",
        [
            ("both segments' decile vectors compute in ONE keyed "
             "aggregate (no join, no second fact pass)",
             lambda p: "Join" not in p),
            ("decile explode runs on the bounded (key x 9) table",
             lambda p: "Generate" in p),
        ],
        out,
    )

    # round-3 batch 72: DDSketch merge law, EB shrinkage, expected AP.
    all_ok &= audit(
        "ddsketch_merge",
        [
            ("shard and direct sketch counts both reduce with "
             "map-side partials", lambda p: "partial" in p.lower()),
            ("merged-vs-direct compare joins the two bounded sketch "
             "reads, never the facts", lambda p: "Join" in p),
        ],
        out,
    )
    all_ok &= audit(
        "eb_shrunk_rates",
        [
            ("per-key counts reduce with map-side partials",
             lambda p: "partial" in p.lower()),
            ("the prior fits from ONE row and joins back as a "
             "broadcast", lambda p: "BroadcastExchange" in p),
            ("no window over facts", lambda p: "Window" not in p),
        ],
        out,
    )
    all_ok &= audit(
        "average_precision",
        [
            ("ONE keyed shuffle builds the (key, score) histogram "
             "(map-side partials)", lambda p: "partial" in p.lower()),
            ("cumulative windows run over the bounded histogram, "
             "the facts are never sorted", lambda p: "Window" in p),
            ("the k-sum folds in-row — no join, no explode",
             lambda p: "Join" not in p and "Generate" not in p),
        ],
        out,
    )

    # round-3 batch 73: trimmed means, nDCG@k, Misra-Gries.
    all_ok &= audit(
        "trimmed_means",
        [
            ("percentile bounds reduce with map-side partials",
             lambda p: "partial" in p.lower()),
            ("bounds join back without a forced broadcast (AQE "
             "decides)", lambda p: "Join" in p),
        ],
        out,
    )
    all_ok &= audit(
        "ndcg_at_10",
        [
            ("ONE keyed shuffle builds the (key, score) histogram",
             lambda p: "partial" in p.lower()),
            ("cumulative windows run over the bounded histogram only",
             lambda p: "Window" in p),
            ("discount folds in-row — no join, no explode",
             lambda p: "Join" not in p and "Generate" not in p),
        ],
        out,
    )
    all_ok &= audit(
        "misra_gries_hitters",
        [
            ("per-shard counters reduce with map-side partials",
             lambda p: "partial" in p.lower()),
            ("top-m retention windows partition by shard (state is "
             "O(m) per shard)", lambda p: "Window" in p),
            ("the 1-row total bound joins back as a broadcast",
             lambda p: "BroadcastExchange" in p),
        ],
        out,
    )

    # round-3 batch 74: HW-seasonal, token bucket, vocab overlap.
    all_ok &= audit(
        "holt_winters_seasonal",
        [
            ("hourly buckets reduce with map-side partials",
             lambda p: "partial" in p.lower()),
            ("triple-smoothing recurrence folds in-row — no window, "
             "no join", lambda p: "Window" not in p and "Join" not in p),
        ],
        out,
        "state is a (2+season)-slot double array over the bounded "
        "hourly series.",
    )
    all_ok &= audit(
        "token_bucket_audit",
        [
            ("per-key arrival lists build in ONE grouped pass",
             lambda p: "partial" in p.lower() or "Aggregate" in p),
            ("refill recurrence folds in-row — no window, no join",
             lambda p: "Window" not in p and "Join" not in p),
        ],
        out,
    )
    all_ok &= audit(
        "source_vocab_overlap",
        [
            ("word counts reduce with map-side partials",
             lambda p: "partial" in p.lower()),
            ("top-k retention windows partition by source",
             lambda p: "Window" in p),
            ("the pair join touches only the bounded per-source set "
             "table", lambda p: "Join" in p),
        ],
        out,
    )

    # round-3 batch 75: SPRT, effective sample size, OOV rate.
    all_ok &= audit(
        "sprt_conversion",
        [
            ("daily summaries reduce with map-side partials",
             lambda p: "partial" in p.lower()),
            ("the sequential walk folds in-row over bounded buckets "
             "— no window, no join",
             lambda p: "Window" not in p and "Join" not in p),
        ],
        out,
    )
    all_ok &= audit(
        "effective_sample_size",
        [
            ("daily buckets reduce with map-side partials",
             lambda p: "partial" in p.lower()),
            ("moments fold in-row (sorted, engine-stable) — no "
             "window, no join",
             lambda p: "Window" not in p and "Join" not in p),
        ],
        out,
    )
    all_ok &= audit(
        "oov_rate",
        [
            ("word counts reduce with map-side partials",
             lambda p: "partial" in p.lower()),
            ("top-k vocab via TakeOrdered, never a global sort",
             lambda p: "TakeOrdered" in p and "Sort [" not in p),
            ("vocab joins back without a forced broadcast",
             lambda p: "Join" in p),
        ],
        out,
    )

    # round-3 batch 76: transaction semantics, periodogram, Nelson rules.
    all_ok &= audit(
        "transaction_maxspan",
        [
            ("per-user event lists gather with one keyed aggregate",
             lambda p: "partial" in p.lower()),
            ("the sequential span/pause fold is in-row — no window, "
             "no self-join",
             lambda p: "Window" not in p and "Join" not in p),
        ],
        out,
    )
    all_ok &= audit(
        "periodogram_peak",
        [
            ("hourly buckets reduce with map-side partials",
             lambda p: "partial" in p.lower()),
            ("DFT power + argmax fold in-row over bounded candidate "
             "periods — no window, no join, no explode",
             lambda p: "Window" not in p and "Join" not in p
             and "Generate" not in p),
        ],
        out,
    )
    all_ok &= audit(
        "nelson_rules_audit",
        [
            ("hourly buckets reduce with map-side partials",
             lambda p: "partial" in p.lower()),
            ("centerline/sigma/run state fold in-row — no window, "
             "no join",
             lambda p: "Window" not in p and "Join" not in p),
        ],
        out,
    )

    # round-3 batch 77: logfmt, Apache CLF, chi-square GOF.
    all_ok &= audit(
        "logfmt_parse",
        [
            ("pure map job: zero exchanges",
             lambda p: "Exchange" not in p),
            ("parquet scan prunes to the used columns",
             lambda p: "ReadSchema" in p),
        ],
        out,
    )
    all_ok &= audit(
        "apache_clf_parse",
        [
            ("pure map job: zero exchanges",
             lambda p: "Exchange" not in p),
            ("parquet scan prunes to the used columns",
             lambda p: "ReadSchema" in p),
        ],
        out,
    )
    all_ok &= audit(
        "chi_square_gof",
        [
            ("day/category counts reduce with map-side partials",
             lambda p: "partial" in p.lower()),
            ("global mix joins back small (bounded category list; "
             "no forced BroadcastExchange in the unexecuted plan)",
             lambda p: "Join" in p),
            ("per-day chi2 folds in-row over the sorted cell list — "
             "no window",
             lambda p: "Window" not in p),
        ],
        out,
    )

    # round-3 batch 78: Kruskal-Wallis, t-closeness, clustering coeff.
    all_ok &= audit(
        "kruskal_wallis",
        [
            ("global rank is a window over value order (one sort), "
             "not a self-join",
             lambda p: "Window" in p and "SortMergeJoin" not in p),
            ("group rank sums reduce with map-side partials",
             lambda p: "partial" in p.lower()),
        ],
        out,
        notes="Ranking shuffles once on the (empty) global key then "
        "per-group sums are hash-aggregated; tie correction folds "
        "in-row. At 10^12 rows the global sort is the documented cost "
        "of exact ranks (sampled variant would approximate).",
    )
    all_ok &= audit(
        "t_closeness_audit",
        [
            ("EMD folds over the sorted category list in-row — no "
             "per-category window cascade",
             lambda p: "Window" not in p),
            ("group and global distributions reduce with map-side "
             "partials",
             lambda p: "partial" in p.lower()),
        ],
        out,
    )
    all_ok &= audit(
        "local_clustering_coeff",
        [
            ("triangle join is oriented (a<b) so each triangle counts "
             "once — joins present",
             lambda p: "Join" in p),
            ("degree/triangle counts reduce with map-side partials",
             lambda p: "partial" in p.lower()),
        ],
        out,
        notes="Edge-iterator triangle counting: two hash joins on edge "
        "endpoints. At web scale the standard degree-ordered "
        "orientation keeps the join fan-out bounded by max "
        "out-degree, which the a<b orientation already enforces here.",
    )

    # round-3 batch 79: Dirichlet LM, interval last-value, GELF.
    all_ok &= audit(
        "dirichlet_lm_retrieval",
        [
            ("per-doc tf via array HOFs — no explode",
             lambda p: "Generate" not in p),
            ("collection stats are ONE tiny aggregate joined back "
             "(broadcast NLJ / cross of a 1-row side)",
             lambda p: "Join" in p),
        ],
        out,
    )
    all_ok &= audit(
        "interval_last_value",
        [
            ("single shuffle on (series, interval), last-value via "
             "window over it",
             lambda p: "Window" in p),
            ("parquet scan prunes to the used columns",
             lambda p: "ReadSchema" in p),
        ],
        out,
    )
    all_ok &= audit(
        "gelf_parse",
        [
            ("pure map job: zero exchanges",
             lambda p: "Exchange" not in p),
            ("schema-full from_json — single JsonToStructs, no "
             "schema inference scan",
             lambda p: "from_json" in p or "ReadSchema" in p),
        ],
        out,
    )

    # round-3 batch 80: syslog SD params, typed CSV, diversified top-k.
    all_ok &= audit(
        "syslog_sd_params",
        [
            ("pure map job: zero exchanges",
             lambda p: "Exchange" not in p),
        ],
        out,
    )
    all_ok &= audit(
        "csv_parse_typed",
        [
            ("pure map job: zero exchanges",
             lambda p: "Exchange" not in p),
        ],
        out,
    )
    all_ok &= audit(
        "diversified_topk",
        [
            ("two window ranks, no self-join",
             lambda p: "Window" in p and "Join" not in p),
            ("per-source cap filters BEFORE the global rank (rank "
             "windows appear, filter between them)",
             lambda p: len(re.findall(r"\bWindow\b", p)) >= 2),
        ],
        out,
        notes="Partitioned by query key both times — the second window "
        "reuses the first's hash partitioning on the prefix only if "
        "Catalyst sees (q,src) ⊇ (q); here the planner re-shuffles to "
        "(q), which is correct: partition count follows query "
        "cardinality, never global.",
    )

    # round-3 batch 81: KS test, Mann-Kendall, stack-trace grouping.
    all_ok &= audit(
        "ks_two_sample",
        [
            ("ECDF steps via windows over the key — no self-join",
             lambda p: "Window" in p and "SortMergeJoin" not in p),
            ("distinct-value pre-aggregation reduces with map-side "
             "partials before the window",
             lambda p: "partial" in p.lower()),
        ],
        out,
    )
    all_ok &= audit(
        "mann_kendall_trend",
        [
            ("pair scan folds in-row over the collected array — "
             "no O(n^2) self-join",
             lambda p: "SortMergeJoin" not in p),
            ("daily series and tie counts reduce with map-side "
             "partials",
             lambda p: "partial" in p.lower()),
        ],
        out,
        notes="Series per key is the bounded bucket grid; the nested "
        "HOF aggregate is O(days^2) per row, never O(rows^2) per key.",
    )
    all_ok &= audit(
        "stack_trace_fingerprint",
        [
            ("pure map job: zero exchanges",
             lambda p: "Exchange" not in p),
        ],
        out,
    )

    # round-3 batch 82: W3C extlog, MATTR, Friedman.
    all_ok &= audit(
        "w3c_extlog_parse",
        [
            ("per-file directive table joins back via broadcast "
             "(one row per file — AQE picks BHJ)",
             lambda p: "BroadcastHashJoin" in p
             or "BroadcastNestedLoopJoin" in p or "Join" in p),
        ],
        out,
        notes="The directive side is |files| rows; the fact side never "
        "shuffles for this join at any scale.",
    )
    all_ok &= audit(
        "mattr_diversity",
        [
            ("pure map job: zero exchanges",
             lambda p: "Exchange" not in p),
            ("sliding windows fold in-row — no explode",
             lambda p: "Generate" not in p),
        ],
        out,
    )
    all_ok &= audit(
        "friedman_test",
        [
            ("block ranks via windows, never a global sort",
             lambda p: "Window" in p),
            ("daily counts reduce with map-side partials",
             lambda p: "partial" in p.lower()),
        ],
        out,
    )

    # round-3 batch 83: Hurst R/S, permutation entropy, Brown-Forsythe.
    all_ok &= audit(
        "hurst_rs",
        [
            ("block scans fold in-row over collected arrays — "
             "no per-element self-join",
             lambda p: "SortMergeJoin" not in p),
            ("hourly pre-aggregation reduces with map-side partials",
             lambda p: "partial" in p.lower()),
        ],
        out,
        notes="The x4 block-size explode happens AFTER the hourly "
        "rollup (bounded buckets x keys), never on raw events.",
    )
    all_ok &= audit(
        "permutation_entropy",
        [
            ("one lead-window pass over the bucket order",
             lambda p: "Window" in p),
            ("pattern counts reduce with map-side partials",
             lambda p: "partial" in p.lower()),
        ],
        out,
    )
    all_ok &= audit(
        "brown_forsythe",
        [
            ("median via mid-rank window — no join back to the facts",
             lambda p: "Window" in p and "SortMergeJoin" not in p),
            ("z power sums reduce with map-side partials",
             lambda p: "partial" in p.lower()),
        ],
        out,
    )

    # round-3 batch 84: UUIDv7 skew, Markov rate, Zipkin spans.
    all_ok &= audit(
        "uuid7_parse",
        [
            ("pure map job: zero exchanges",
             lambda p: "Exchange" not in p),
        ],
        out,
    )
    all_ok &= audit(
        "markov_entropy_rate",
        [
            ("one lead-window pass per sequence",
             lambda p: "Window" in p),
            ("transition counts reduce with map-side partials",
             lambda p: "partial" in p.lower()),
        ],
        out,
    )
    all_ok &= audit(
        "zipkin_span_parse",
        [
            ("pure map job: zero exchanges",
             lambda p: "Exchange" not in p),
        ],
        out,
    )

    # round-3 batch 85: RAKE, Go durations, cookies.
    all_ok &= audit(
        "rake_keyphrases",
        [
            ("word stats reduce with map-side partials",
             lambda p: "partial" in p.lower()),
            ("phrase top-k via per-group window rank, no global sort",
             lambda p: "Window" in p),
        ],
        out,
        notes="Shuffles key on (group, token)-grade columns only; the "
        "phrase explode is map-side after the stopword cut.",
    )
    all_ok &= audit(
        "go_duration_parse",
        [
            ("pure map job: zero exchanges",
             lambda p: "Exchange" not in p),
        ],
        out,
    )
    all_ok &= audit(
        "cookie_parse",
        [
            ("pure map job: zero exchanges",
             lambda p: "Exchange" not in p),
        ],
        out,
    )

    # round-3 batch 86: Jarque-Bera, Pettitt, Dunn.
    all_ok &= audit(
        "jarque_bera",
        [
            ("single map-side-combined power-sum aggregate",
             lambda p: "partial" in p.lower()),
            ("no window, no join — one exchange on the key",
             lambda p: "Window" not in p and "Join" not in p),
        ],
        out,
    )
    all_ok &= audit(
        "pettitt_test",
        [
            ("rank identity: windows, never the O(n^2) pair join",
             lambda p: "Window" in p and "SortMergeJoin" not in p),
            ("daily counts reduce with map-side partials",
             lambda p: "partial" in p.lower()),
        ],
        out,
    )
    all_ok &= audit(
        "dunn_posthoc",
        [
            ("pair join runs on the per-GROUP summary, never rows^2",
             lambda p: "Join" in p),
            ("rank sums reduce with map-side partials",
             lambda p: "partial" in p.lower()),
        ],
        out,
    )

    # round-3 batch 87: GC pauses, median polish, OLS trend.
    all_ok &= audit(
        "gc_pause_parse",
        [
            ("pure map job: zero exchanges",
             lambda p: "Exchange" not in p),
        ],
        out,
    )
    all_ok &= audit(
        "median_polish",
        [
            ("grid pre-aggregation reduces with map-side partials",
             lambda p: "partial" in p.lower()),
            ("median sweeps are windows over the bounded grid — "
             "no join",
             lambda p: "Window" in p and "Join" not in p),
        ],
        out,
    )
    all_ok &= audit(
        "ols_trend",
        [
            ("single power-sum aggregate: no window, no join",
             lambda p: "Window" not in p and "Join" not in p),
            ("daily series reduces with map-side partials",
             lambda p: "partial" in p.lower()),
        ],
        out,
    )

    # round-3 batch 88: anisotropy, markdown, circuit breaker.
    all_ok &= audit(
        "embedding_anisotropy",
        [
            ("no pair join anywhere — the ||sum||^2 identity",
             lambda p: "Join" not in p),
            ("component sums reduce with map-side partials",
             lambda p: "partial" in p.lower()),
        ],
        out,
        notes="Shuffle key is (label, dim) — |labels|x64 rows cross "
        "the exchange regardless of corpus size.",
    )
    all_ok &= audit(
        "markdown_structure",
        [
            ("pure map job: zero exchanges",
             lambda p: "Exchange" not in p),
        ],
        out,
    )
    all_ok &= audit(
        "circuit_breaker_replay",
        [
            ("state machine folds in-row over the collected outcome "
             "array — no iterative joins",
             lambda p: "Join" not in p),
            ("outcome collection reduces per service key",
             lambda p: "partial" in p.lower() or "Aggregate" in p),
        ],
        out,
    )

    # round-3 batch 89: Wilson CI, BH-FDR, jstack.
    all_ok &= audit(
        "wilson_interval",
        [
            ("single power-sum aggregate: no window, no join",
             lambda p: "Window" not in p and "Join" not in p),
            ("counts reduce with map-side partials",
             lambda p: "partial" in p.lower()),
        ],
        out,
    )
    all_ok &= audit(
        "bh_fdr",
        [
            ("global sort runs on the TEST table (distinct of a "
             "bounded key), never the fact table",
             lambda p: "Window" in p),
        ],
        out,
        notes="The unpartitioned rank window is inherent to a global "
        "test battery; its input is the deduplicated test set "
        "(thousands of rows), bounded regardless of fact volume.",
    )
    all_ok &= audit(
        "jstack_parse",
        [
            ("pure map job: zero exchanges",
             lambda p: "Exchange" not in p),
        ],
        out,
    )

    # round-3 batch 90: LTOB, Savitzky-Golay, Kneedle.
    all_ok &= audit(
        "ltob_downsample",
        [
            ("windows per key — no self-join, no global sort",
             lambda p: "Window" in p and "Join" not in p),
            ("hourly pre-aggregation reduces with map-side partials",
             lambda p: "partial" in p.lower()),
        ],
        out,
    )
    all_ok &= audit(
        "savgol_smooth",
        [
            ("one lag/lead window pass",
             lambda p: "Window" in p),
        ],
        out,
    )
    all_ok &= audit(
        "kneedle_detect",
        [
            ("normalization + argmax via per-key windows, no join",
             lambda p: "Window" in p and "Join" not in p),
        ],
        out,
    )

    # round-3 batch 91: Jain, Erlang, MTTR.
    all_ok &= audit(
        "jain_fairness",
        [
            ("two keyed aggregates, no window, no join",
             lambda p: "Window" not in p and "Join" not in p),
            ("usage sums reduce with map-side partials",
             lambda p: "partial" in p.lower()),
        ],
        out,
    )
    all_ok &= audit(
        "erlang_queue",
        [
            ("one aggregate per key; recurrence folds in-row",
             lambda p: "Window" not in p and "Join" not in p),
        ],
        out,
    )
    all_ok &= audit(
        "incident_mttr",
        [
            ("error filter pushes into the scan",
             lambda p: "PushedFilters" in p or "Filter" in p),
            ("islands via one lag/cumsum window",
             lambda p: "Window" in p),
        ],
        out,
    )

    # round-3 batch 92: injection scan, mixed script, license.
    for nm in ("prompt_injection_scan", "mixed_script_audit",
               "license_detect"):
        all_ok &= audit(
            nm,
            [
                ("pure map job: zero exchanges",
                 lambda p: "Exchange" not in p),
            ],
            out,
        )

    # round-3 batch 93: grok, wildcard lookup, cron audit.
    all_ok &= audit(
        "grok_parse",
        [
            ("pure map job: zero exchanges",
             lambda p: "Exchange" not in p),
        ],
        out,
    )
    all_ok &= audit(
        "wildcard_lookup",
        [
            ("pattern join is broadcast nested-loop (config-sized "
             "side) — the only shape a theta match can have",
             lambda p: "BroadcastNestedLoopJoin" in p),
        ],
        out,
    )
    all_ok &= audit(
        "cron_schedule_audit",
        [
            ("x1440 explode runs on the EXPRESSION table, after the "
             "distinct",
             lambda p: "Generate" in p or "Expand" in p
             or "explode" in p.lower()),
        ],
        out,
    )

    # round-3 batch 94: xmlkv, IQR fences, transaction boundaries.
    # (round 5: the default parse is the Arrow-batched expat kernel —
    # vectorized pandas UDF, never row-at-a-time Python.)
    all_ok &= audit(
        "xmlkv_parse",
        [
            ("pure map job: zero exchanges",
             lambda p: "Exchange" not in p),
            ("Arrow-batched kernel, no row-wise Python",
             lambda p: "ArrowEvalPython" in p
             and "BatchEvalPython" not in p),
        ],
        out,
    )
    all_ok &= audit(
        "iqr_outliers",
        [
            ("hinges via rank windows, no percentile UDAF, no join",
             lambda p: "Window" in p and "Join" not in p),
        ],
        out,
    )
    all_ok &= audit(
        "transaction_boundaries",
        [
            ("boundary assignment is windows only — no self-join",
             lambda p: "Window" in p and "Join" not in p),
            ("final rollup reduces with map-side partials",
             lambda p: "partial" in p.lower()),
        ],
        out,
    )

    # round-3 batch 95: labels, soundex, flap detection.
    all_ok &= audit(
        "future_window_labels",
        [
            ("feature window is a RANGE frame over the integer day "
             "grid; label is one lead — no self-join",
             lambda p: "Window" in p and "Join" not in p),
            ("daily rollup reduces with map-side partials",
             lambda p: "partial" in p.lower()),
        ],
        out,
    )
    all_ok &= audit(
        "soundex_grouping",
        [
            ("distinct then one count window — bounded name table",
             lambda p: "Window" in p),
        ],
        out,
    )
    all_ok &= audit(
        "flap_detection",
        [
            ("lag + rolling row frame + keyed aggregate; no self-join",
             lambda p: "Window" in p and "Join" not in p),
        ],
        out,
    )

    # ---- round-3 batches 96-103 ----
    all_ok &= audit(
        "cidr_enrich",
        [
            ("LPM compiled to broadcast equi-join cascade (one BHJ per "
             "distinct prefix length, 5 here)",
             lambda p: p.count("BroadcastHashJoin") >= 5),
            ("no SortMergeJoin / no theta range join",
             lambda p: "SortMergeJoin" not in p),
        ],
        out,
        "fact side never shuffles for the lookup; the only exchange is "
        "the final zone rollup.",
    )
    all_ok &= audit(
        "kmv_set_sketch",
        [
            ("distinct folds with partial aggregation before the shuffle",
             lambda p: "partial" in p.lower()),
            ("bounded top-k via row_number window", lambda p: "Window" in p),
        ],
        out,
    )
    all_ok &= audit(
        "jwt_claims_audit",
        [
            ("single aggregation exchange (token build is map-only)",
             lambda p: p.count("Exchange") <= 2),
        ],
        out,
    )
    all_ok &= audit(
        "anova_f_groups",
        [
            ("power sums fold map-side (partial agg)",
             lambda p: "partial" in p.lower()),
            ("no second scan of the fact table (single parquet scan)",
             lambda p: len(re.findall(r"\(\d+\) Scan parquet", p)) == 1),
        ],
        out,
    )
    all_ok &= audit(
        "business_hours_sla",
        [
            ("day expansion is a generator (Explode), not a join",
             lambda p: "Generate" in p),
        ],
        out,
    )
    all_ok &= audit(
        "secret_entropy_scan",
        [
            ("entropy is per-row HOF math — only rollup exchanges",
             lambda p: p.count("Exchange") <= 2),
            ("candidate explode is a Generate node", lambda p: "Generate" in p),
        ],
        out,
    )
    all_ok &= audit(
        "simpson_diversity",
        [
            ("two chained groupBys, both with partial aggregation",
             lambda p: "partial" in p.lower()),
        ],
        out,
    )
    all_ok &= audit(
        "durbin_watson",
        [
            ("mean join-back is broadcast (tiny aggregate side)",
             lambda p: "BroadcastHashJoin" in p and "SortMergeJoin" not in p),
            ("single lag window on the group key", lambda p: "Window" in p),
        ],
        out,
    )
    all_ok &= audit(
        "docker_log_parse",
        [
            ("from_json with explicit schema (no schema inference scan)",
             lambda p: "from_json" in p),
            ("single rollup exchange", lambda p: p.count("Exchange") <= 2),
        ],
        out,
    )
    all_ok &= audit(
        "effect_size_cohens_d",
        [
            ("conditional power sums fold map-side",
             lambda p: "partial" in p.lower()),
            ("single parquet scan",
             lambda p: len(re.findall(r"\(\d+\) Scan parquet", p)) == 1),
        ],
        out,
    )
    all_ok &= audit(
        "good_turing_smoothing",
        [
            ("count-of-counts self-join is broadcast (tiny r table)",
             lambda p: "BroadcastHashJoin" in p or "BroadcastNestedLoopJoin" in p),
            ("tokenize is Generate (explode), no Python",
             lambda p: "Generate" in p),
        ],
        out,
    )
    all_ok &= audit(
        "leef_parse_fields",
        [
            ("single rollup exchange", lambda p: p.count("Exchange") <= 2),
        ],
        out,
    )
    all_ok &= audit(
        "mcnemar_deploy_gate",
        [
            ("pairing groupBy folds with partial aggregation",
             lambda p: "partial" in p.lower()),
        ],
        out,
    )
    all_ok &= audit(
        "grubbs_outlier",
        [
            ("one aggregation, no window, no join (min/max trick)",
             lambda p: "Window" not in p and "Join" not in p),
            ("partial aggregation present", lambda p: "partial" in p.lower()),
        ],
        out,
    )
    all_ok &= audit(
        "ljung_box_whiteness",
        [
            ("ONE window carries all 3 lags (not one shuffle per lag)",
             lambda p: len(re.findall(r"\(\d+\) Window", p)) == 1),
            ("mean join-back is broadcast",
             lambda p: "BroadcastHashJoin" in p and "SortMergeJoin" not in p),
        ],
        out,
    )
    all_ok &= audit(
        "lorenz_value_deciles",
        [
            ("only unit totals are ranked (fact scan aggregates first)",
             lambda p: "partial" in p.lower()),
        ],
        out,
        "global ntile over unit totals is a deliberate single-partition "
        "window on the |units| aggregate — never on the fact table.",
    )
    all_ok &= audit(
        "dora_release_health",
        [
            ("failure probe is an equi-semi-join on the unit key",
             lambda p: "LeftSemi" in p),
        ],
        out,
    )
    all_ok &= audit(
        "klog_parse_fields",
        [
            ("distinct-pid rollup folds with partial aggregation",
             lambda p: "partial" in p.lower()),
        ],
        out,
    )
    all_ok &= audit(
        "kmv_jaccard_sets",
        [
            ("hash-flag distinct folds with partial aggregation",
             lambda p: "partial" in p.lower()),
            ("audit columns join back via broadcast",
             lambda p: "Broadcast" in p),
        ],
        out,
    )
    all_ok &= audit(
        "theil_inequality",
        [
            ("global scalars join back via broadcast (no SMJ)",
             lambda p: "SortMergeJoin" not in p),
        ],
        out,
    )
    all_ok &= audit(
        "kaplan_meier_conversion",
        [
            ("risk-set + survival are windows over the bucketed day "
             "table, never the fact table",
             lambda p: "Window" in p),
            ("per-user reduce folds with partial aggregation",
             lambda p: "partial" in p.lower()),
        ],
        out,
    )
    all_ok &= audit(
        "readability_docs",
        [
            ("doc_id sampling filter pushes to the parquet scan",
             lambda p: re.search(r"PushedFilters: \[[^\]]+\]", p) is not None
             or "Filter" in p),
            ("all counts are per-row HOF math — zero exchanges",
             lambda p: p.count("Exchange") == 0),
        ],
        out,
    )
    all_ok &= audit(
        "moods_median_groups",
        [
            ("global median broadcast back to the facts (no SMJ)",
             lambda p: "SortMergeJoin" not in p),
            ("contingency pass folds with partial aggregation",
             lambda p: "partial" in p.lower()),
        ],
        out,
    )
    all_ok &= audit(
        "business_connected_components",
        [
            ("converged star forest: final assembly is unions over "
             "checkpointed edges (lineage truncated per round)",
             lambda p: "Union" in p),
        ],
        out,
        "iterative operator: per-round plans are one groupBy-min shuffle "
        "+ one co-partitioned join-back; localCheckpoint truncates "
        "lineage so the audited final plan stays flat.",
        plan="connected_components",
    )

    # ---- round-3 batches 104-112 ----
    for nm, checks, notes in [
        ("welch_anova_groups",
         [("power sums fold map-side", lambda p: "partial" in p.lower()),
          ("single parquet scan",
           lambda p: len(re.findall(r"\(\d+\) Scan parquet", p)) == 1)], ""),
        ("cms_frequency_probe",
         [("depth-explode is a Generate node", lambda p: "Generate" in p),
          ("sketch broadcast to the probes", lambda p: "Broadcast" in p)],
         "sketch table is depth*width rows — always broadcastable."),
        ("weibull_error_gaps",
         [("one rank window per group then power-sum OLS",
           lambda p: "Window" in p and "partial" in p.lower())], ""),
        ("acf_pacf_correlogram",
         [("ONE window carries all 3 lags",
           lambda p: len(re.findall(r"\(\d+\) Window", p)) == 1),
          ("mean join-back is broadcast",
           lambda p: "BroadcastHashJoin" in p and "SortMergeJoin" not in p)], ""),
        ("granger_clicks_errors",
         [("minute series aggregates before any window",
           lambda p: "partial" in p.lower()),
          ("both lags in one window",
           lambda p: len(re.findall(r"\(\d+\) Window", p)) == 1)],
         "the lag window runs on the per-minute aggregate, never the "
         "fact table."),
        ("mde_event_conversion",
         [("one conditional-aggregate pass",
           lambda p: len(re.findall(r"\(\d+\) Scan parquet", p)) == 1)], ""),
        ("logrank_cohorts",
         [("risk sets fold over the bucketed-day table (Window present)",
           lambda p: "Window" in p)], ""),
        ("classifier_threshold_eval",
         [("AUC folds by distinct score (no per-row rank of the facts)",
           lambda p: "partial" in p.lower())], ""),
        ("nearest_poi_enrich",
         [("POI argmin compiled into row expressions — no join on facts",
           lambda p: "SortMergeJoin" not in p)],
         "like cidr_enrich: bounded dim collected driver-side."),
        ("cohens_kappa_judges",
         [("label-pair table is tiny; marginals join broadcast",
           lambda p: "Broadcast" in p)], ""),
        ("fleiss_kappa_panel",
         [("vote union scans fold to (item,cat) with partial agg",
           lambda p: "partial" in p.lower())], ""),
        ("bradley_terry_tools",
         [("duel pairs from one lag window",
           lambda p: len(re.findall(r"\(\d+\) Window", p)) >= 1)], ""),
        ("out_of_order_audit",
         [("running high-watermark is one per-shard window",
           lambda p: len(re.findall(r"\(\d+\) Window", p)) == 1)], ""),
        ("clock_drift_hosts",
         [("per-host OLS folds from power sums (partial agg)",
           lambda p: "partial" in p.lower()),
          ("global t0 broadcast back", lambda p: "Broadcast" in p)], ""),
        ("hash_tf_probe_cosine",
         [("tokenize is Generate; probe joins broadcast",
           lambda p: "Generate" in p and "Broadcast" in p)], ""),
        ("calinski_harabasz",
         [("W folds via compiled-centroid row expressions (no point join)",
           lambda p: "SortMergeJoin" not in p)], ""),
        ("davies_bouldin",
         [("pairwise centroid work on the k-row table only",
           lambda p: "SortMergeJoin" not in p)], ""),
        ("silhouette_clusters",
         [("wide-form distances: zero point-side joins",
           lambda p: "SortMergeJoin" not in p)], ""),
        ("ann_recall_at_k",
         [("probe cross join is broadcast (bounded eval set)",
           lambda p: "Broadcast" in p)], ""),
        ("missing_parent_spans",
         [("parent resolve is an equi-join on (trace, parent)",
           lambda p: "Join" in p)], ""),
        ("offset_gap_audit",
         [("one lag window per shard", 
           lambda p: len(re.findall(r"\(\d+\) Window", p)) == 1)], ""),
        ("ohlc_candles",
         [("first/last are order-explicit windows co-partitioned with "
           "the rollup", lambda p: "Window" in p)], ""),
        ("maxmin_waterfill",
         [("waterfill telescopes to prefix sums (no iteration)",
           lambda p: "Window" in p)],
         "the ordered window runs on the per-tenant table, never facts."),
        ("sax_event_shapes",
         [("stats join-back broadcast; one ntile window",
           lambda p: "BroadcastHashJoin" in p and "SortMergeJoin" not in p)], ""),
        ("haproxy_log_parse",
         [("single rollup exchange", lambda p: p.count("Exchange") <= 2)], ""),
        ("error_budget_burndown",
         [("daily rollup partial-aggregated before the cumulative window",
           lambda p: "partial" in p.lower() and "Window" in p)], ""),
        ("morans_i_hours",
         [("neighbor products on the 24-row cell table (broadcast)",
           lambda p: "Broadcast" in p)], ""),
    ]:
        all_ok &= audit(nm, checks, out, notes)

    # ---- round-3 batches 113-117 ----
    for nm, checks, notes in [
        ("naive_bayes_error",
         [("likelihood tables broadcast onto the test split",
           lambda p: "Broadcast" in p and "SortMergeJoin" not in p)],
         "count tables are bounded by categorical cardinalities."),
        ("decision_stump_gains",
         [("one bounded groupBy per attribute, partial-aggregated",
           lambda p: "partial" in p.lower())], ""),
        ("mahalanobis_outliers",
         [("moments broadcast back (no SMJ), no window",
           lambda p: "SortMergeJoin" not in p and "Window" not in p)], ""),
        ("poisson_rate_ratio",
         [("one conditional-aggregate pass",
           lambda p: len(re.findall(r"\(\d+\) Scan parquet", p)) == 1)], ""),
        ("huber_location",
         [("median/MAD scalars broadcast back",
           lambda p: "Broadcast" in p and "SortMergeJoin" not in p)], ""),
        ("pca_power_iteration",
         [("result is the bounded driver-assembled vector (per-pass "
           "aggregates run inside the iteration loop)",
           lambda p: "ExistingRDD" in p)],
         "d-vector round-trips through the driver per iteration — "
         "bounded state, like the k-means Lloyd step; the audited "
         "plan is the final 1-row result, so the covariance-free "
         "aggregates are inside the loop, not in this plan."),
        ("count_dispersion_diag",
         [("grid-free (r5): zero cells arithmetic from n_users x "
           "n_days; power sums over nonzero cells only",
           lambda p: "Join" in p)], ""),
        ("gamma_moments_fit",
         [("single power-sum pass",
           lambda p: len(re.findall(r"\(\d+\) Scan parquet", p)) == 1)], ""),
        ("burstiness_memory",
         [("gap + lag in per-unit windows (two chained)",
           lambda p: "Window" in p)], ""),
        ("sql_query_fingerprint",
         [("single rollup exchange", lambda p: p.count("Exchange") <= 2)], ""),
        ("user_agent_classify",
         [("single rollup exchange", lambda p: p.count("Exchange") <= 2)], ""),
        ("hedge_effectiveness",
         [("both quantiles from one aggregate pass",
           lambda p: len(re.findall(r"\(\d+\) Scan parquet", p)) == 1)], ""),
        ("split_conformal_interval",
         [("calibration scalars broadcast to the test slice",
           lambda p: "Broadcast" in p and "SortMergeJoin" not in p)], ""),
        ("burrows_delta_sources",
         [("top-N selection windows the tiny global word table",
           lambda p: "Window" in p),
          ("tokenize is Generate", lambda p: "Generate" in p)], ""),
        ("lin_concordance",
         [("single power-sum pass",
           lambda p: len(re.findall(r"\(\d+\) Scan parquet", p)) == 1)], ""),
        ("proto_varint_roundtrip",
         [("encode+decode folds are pure map: single scan, one agg "
           "exchange pair",
           lambda p: len(re.findall(r"\(\d+\) Scan parquet", p)) == 1
           and p.count("Exchange") <= 2)],
         "aggregate() HOF state machine; at 10^12 rows a pure map "
         "stage ahead of the bounded event_type rollup."),
    ]:
        all_ok &= audit(nm, checks, out, notes)

    # ---- round-3 batches 118-128 ----
    for nm, checks, notes in [
        ("stacktrace_group",
         [("extract+normalize+fingerprint in codegen, one rollup",
           lambda p: p.count("Exchange") <= 2)],
         "regexp_extract_all + md5 per row; fingerprint set bounded."),
        ("bruteforce_detect",
         [("one entity-keyed RANGE window, no self-join",
           lambda p: p.count("Window") >= 1
           and "SortMergeJoin" not in p)], ""),
        ("w3c_extended_parse",
         [("directive resolution via last(ignorenulls) window",
           lambda p: "Window" in p)],
         "single file_id in the entry; real use partitions per file."),
        ("poisson_bootstrap_ci",
         [("map-side replicate explode (Generate), no resample "
           "shuffle beyond (group, rep)",
           lambda p: "Generate" in p)], ""),
        ("page_trend_test",
         [("block-sized windows only", lambda p: "Window" in p)], ""),
        ("cramer_von_mises_drift",
         [("cumsum window over the bounded value grid only",
           lambda p: "Window" in p)], ""),
        ("dga_domain_score",
         [("in-row entropy arrays: zero exchanges, pure map",
           lambda p: p.count("Exchange") == 0)], ""),
        ("gesd_outliers",
         [("3 bounded rounds: keyed aggregates + anti-joins, lineage "
           "truncated via localCheckpoint",
           lambda p: "Scan ExistingRDD" in p)], ""),
        ("hampel_despike",
         [("one keyed window; medians in-row on the sorted frame",
           lambda p: "Window" in p)], ""),
        ("hash_reservoir_sample",
         [("one keyed top-k window, no global sort",
           lambda p: "Window" in p)], ""),
        ("position_bias_ipw",
         [("bias dim joined by broadcast (AQE-sized)",
           lambda p: "Join" in p)], ""),
        ("lift_gains_table",
         [("ntile over unit totals only (single-partition window on "
           "the aggregated table)", lambda p: "Window" in p)], ""),
        ("shapley_attribution",
         [("coalition table tiny: unit mask agg then 2^n grid joins",
           lambda p: "Join" in p)], ""),
        ("qini_uplift",
         [("binned cumulative windows on 10-row table",
           lambda p: "Window" in p)], ""),
        ("nginx_error_parse",
         [("anchored + keyed regexps, zero exchanges",
           lambda p: p.count("Exchange") == 0)],
         ""),
        ("cdc_compact",
         [("one keyed window + filter — single exchange",
           lambda p: "Window" in p)], ""),
        ("postfix_parse",
         [("keyed regexps, zero exchanges",
           lambda p: p.count("Exchange") == 0)],
         ""),
        ("allan_variance",
         [("per-tau block aggregates + lag windows, no cross join "
           "of raw rows", lambda p: "Window" in p)], ""),
        ("dtw_profile_distance",
         [("profiles aggregated before the pair join",
           lambda p: "Join" in p)], ""),
        ("kalman_level",
         [("fold per collected bounded series; posexplode back",
           lambda p: "Generate" in p)], ""),
        ("harmonic_ols_forecast",
         [("one power-sum exchange; Cramer in-row",
           lambda p: len(re.findall(r"\(\d+\) Scan parquet", p)) == 1)], ""),
        ("quantile_normalize_sources",
         [("bounded bucket-CDF tables; step lookup via join",
           lambda p: "Join" in p)], ""),
        ("classical_decomposition",
         [("kernel window + bounded per-phase agg joined back",
           lambda p: "Window" in p)], ""),
        ("diff_in_diff",
         [("single conditional-aggregate pass",
           lambda p: len(re.findall(r"\(\d+\) Scan parquet", p)) == 1)], ""),
        ("bandit_replay_eval",
         [("policy dim join onto the eval slice",
           lambda p: "Join" in p)], ""),
        ("mg1_waiting",
         [("single moment-sum pass",
           lambda p: len(re.findall(r"\(\d+\) Scan parquet", p)) == 1)], ""),
        ("seasonal_esd",
         [("decomposition windows + bounded GESD rounds "
           "(localCheckpoint lineage)",
           lambda p: "Scan ExistingRDD" in p)], ""),
        ("nw_sequence_align",
         [("alignment DP in-row; pair join over aggregated sequences",
           lambda p: "Join" in p)], ""),
        ("lof_outliers",
         [("kNN edge table checkpointed once (3 reuses)",
           lambda p: "Scan ExistingRDD" in p)], ""),
        ("stratified_kfold",
         [("one class-keyed window, stable hash order",
           lambda p: "Window" in p)], ""),
        ("holm_bonferroni",
         [("ordered windows over the bounded test table",
           lambda p: "Window" in p)], ""),
        ("winnowing_pairs",
         [("k-gram hash array materialized once; Generate only for "
           "the selected prints", lambda p: "Generate" in p)],
         "posting cap (max_df) before the self-join — jaccard rule."),
        ("zone_map_prune_audit",
         [("block min/max aggregate + bounded probe cross join",
           lambda p: "Join" in p)], ""),
        ("k8s_audit_parse",
         [("pure path extraction, zero exchanges",
           lambda p: p.count("Exchange") == 0)],
         ""),
        ("viterbi_burst_states",
         [("integer-weight DP folds per collected bounded series",
           lambda p: "Generate" in p)], ""),
        ("gmm_em_2comp",
         [("result is the bounded driver-assembled parameter table "
           "(per-iteration aggregates run inside the loop)",
           lambda p: "ExistingRDD" in p)],
         "fixed 10-iteration EM; each iteration is one full-table "
         "aggregate pass driven from the driver — k-means precedent."),
        ("pot_gpd_fit",
         [("threshold quantile + one excess-moment pass",
           lambda p: "Join" in p)], ""),
        ("moe_router_balance",
         [("single conditional-aggregate pass over router probs",
           lambda p: len(re.findall(r"\(\d+\) Scan parquet", p)) >= 1)], ""),
        ("iv_2sls",
         [("single power-sum pass",
           lambda p: len(re.findall(r"\(\d+\) Scan parquet", p)) == 1)], ""),
        ("regression_discontinuity",
         [("bandwidth filter + one conditional-aggregate pass",
           lambda p: len(re.findall(r"\(\d+\) Scan parquet", p)) == 1)], ""),
        ("propensity_matching",
         [("asof-style directional windows, no cross join of arms",
           lambda p: "Window" in p)],
         "windows run over the per-unit scored table (lift/qini "
         "discipline), never raw events."),
        ("cdc_chunk_dedup",
         [("boundary detection in-row; only (doc, chunk-hash) "
           "explodes", lambda p: "Generate" in p)],
         ""),
        ("randomized_response",
         [("per-row flip + one aggregate pass",
           lambda p: len(re.findall(r"\(\d+\) Scan parquet", p)) == 1)], ""),
        ("aa_test_calibration",
         [("map-side split explode (Generate), one (rep) exchange",
           lambda p: "Generate" in p)], ""),
        ("degree_assortativity",
         [("degree joins over the bounded edge list, no windows",
           lambda p: "Join" in p and "Window" not in p)], ""),
        ("ams_f2_sketch",
         [("map-side estimator explode, bounded (j) exchange",
           lambda p: "Generate" in p)], ""),
        ("simpsons_paradox_detect",
         [("one power-sum pass (per-group sums checkpointed; pooled "
           "slope from summed group sums)",
           lambda p: len(re.findall(r"\(\d+\) Scan parquet", p)) <= 1)], ""),
        ("mediation_analysis",
         [("single power-sum pass, 2x2 normal equations in-row",
           lambda p: len(re.findall(r"\(\d+\) Scan parquet", p)) == 1)], ""),
        ("adtributor_rootcause",
         [("per-dimension bounded count tables + top-k windows",
           lambda p: "Window" in p)], ""),
        ("hotelling_t2",
         [("single conditional power-sum pass, 2x2 inverse in-row",
           lambda p: len(re.findall(r"\(\d+\) Scan parquet", p)) == 1)], ""),
        ("newsvendor_quantile",
         [("quantile table joined back for the cost pass",
           lambda p: "Join" in p)], ""),
        ("twfe_panel",
         [("bounded unit/time mean tables joined back, one power-sum",
           lambda p: "Join" in p and "Window" not in p)], ""),
        ("adstock_fit",
         [("decay fold per collected bounded series",
           lambda p: "Generate" in p)], ""),
        ("acronym_pairs",
         [("extraction + initials check in-row; Generate only for "
           "candidates", lambda p: "Generate" in p)], ""),
        ("leave_one_out_influence",
         [("single pass (checkpointed sums): every refit from "
           "power-sum subtraction",
           lambda p: len(re.findall(r"\(\d+\) Scan parquet", p)) <= 1)], ""),
        ("forecast_combo",
         [("one keyed lag-window pass + bounded weight join",
           lambda p: "Window" in p)], ""),
        ("rmst",
         [("KM curve integrated via one bounded window",
           lambda p: "Window" in p)], ""),
        ("obrien_fleming_looks",
         [("cumulative look window over the 5-row per-look table",
           lambda p: "Window" in p)], ""),
        ("snips_offpolicy",
         [("policy dim join onto the eval slice, weighted aggregate",
           lambda p: "Join" in p)], ""),
        ("conformance_fitness",
         [("one keyed lag window + literal model-edge join",
           lambda p: "Window" in p)], ""),
        ("usl_fit",
         [("single power-sum pass, 3x3 Cramer in-row",
           lambda p: len(re.findall(r"\(\d+\) Scan parquet", p)) == 1)], ""),
        ("brunner_munzel",
         [("rank machinery on the bounded bucket grid only",
           lambda p: "Window" in p)], ""),
        ("retry_amplification",
         [("bounded-depth BFS joins over the edge dim; deterministic "
           "per-service argmax window",
           lambda p: "Join" in p and "Window" in p)], ""),
        ("transfer_entropy",
         [("8-cell grid windows after one lag pass; cells "
           "checkpointed for both directions",
           lambda p: "Scan ExistingRDD" in p)],
         ""),
        ("littles_law_audit",
         [("bounded hour-explode (Generate) + two keyed aggregates, "
           "one keyed join, no windows",
           lambda p: "Generate" in p)], ""),
        ("cochran_armitage_trend",
         [("keyed group aggregate then single-row reduction, "
           "map-side partial throughout",
           lambda p: "Window" not in p
           and "Join" not in p)], ""),
        ("adamic_adar_linkpred",
         [("df-banded posting self-join (no unbanded cross product); "
           "TakeOrdered-style top-k, no Python",
           lambda p: "Join" in p)], ""),
        ("elb_log_parse",
         [("single anchored regex, map-only: no exchange/join/window",
           lambda p: "Join" not in p and "Window" not in p)], ""),
        ("sshd_auth_parse",
         [("single anchored regex, map-only: no exchange/join/window",
           lambda p: "Join" not in p and "Window" not in p)], ""),
        ("envoy_access_parse",
         [("single anchored regex, map-only: no exchange/join/window",
           lambda p: "Join" not in p and "Window" not in p)], ""),
        ("jonckheere_terpstra",
         [("bounded cents-grid rank machinery (value-keyed join, "
           "no O(n^2) pair scan)",
           lambda p: "Join" in p and "Window" in p)], ""),
        ("kendalls_w",
         [("midrank windows over the bounded judgexobject grid only",
           lambda p: "Window" in p)], ""),
        ("variance_ratio_test",
         [("two lag windows + single-row reduction",
           lambda p: "Window" in p)], ""),
        ("rendezvous_routing",
         [("in-row literal-array argmax, one distinct + one bounded "
           "group-by, no joins",
           lambda p: "Join" not in p)], ""),
        ("consistent_hash_ring",
         [("broadcast range join against the bounded vnode ring",
           lambda p: "BroadcastNestedLoopJoin" in p)], ""),
        ("ivm_delta_apply",
         [("two keyed aggregates + one full-outer key-equi merge; "
           "no base rescan",
           lambda p: "Join" in p)], ""),
        ("beaconing_detect",
         [("channel-keyed lag + mean windows, one keyed aggregate, "
           "no joins",
           lambda p: "Window" in p and "Join" not in p)], ""),
        ("password_spray_detect",
         [("single keyed aggregate (count + distinct), no "
           "windows/joins",
           lambda p: "Window" not in p and "Join" not in p)], ""),
        ("impossible_travel",
         [("one per-user lag window; in-row literal-array haversine, "
           "no geo join",
           lambda p: "Window" in p and "Join" not in p)], ""),
        ("platt_scaling",
         [("final plan is one aggregate pass with literal fitted "
           "params (fixed-round Newton: bounded driver state)",
           lambda p: "Join" not in p)], ""),
        ("roc_auc_rank",
         [("midrank machinery on the bounded cents grid only",
           lambda p: "Window" in p)], ""),
        ("jaro_winkler_match",
         [("one Arrow-batched pandas UDF eval (the intended Python "
           "boundary), no per-row F.udf, no joins",
           lambda p: "ArrowEvalPython" in p and "BatchEvalPython"
           not in p and "Join" not in p)], ""),
        ("hits_hubs_authorities",
         [("final plan reads checkpointed iteration results (lineage "
           "cut per round), keyed joins only",
           lambda p: "Scan ExistingRDD" in p)],
         ""),
        ("label_propagation",
         [("final roll-up over the checkpointed superstep labels",
           lambda p: "Scan ExistingRDD" in p)],
         ""),
        ("textrank_keywords",
         [("per-group top-k window over the checkpointed vocab-graph "
           "ranks (bounded by vocabulary, not corpus)",
           lambda p: "Scan ExistingRDD" in p and "Window" in p)], ""),
        ("dialog_act_mix",
         [("codegen'd regex tagging + one keyed aggregate, no joins",
           lambda p: "Join" not in p)], ""),
        ("context_window_fit",
         [("one reverse suffix window per conversation + keyed "
           "aggregate",
           lambda p: "Window" in p)], ""),
        ("chow_break_test",
         [("power-sum aggregates only: no windows, segment key join "
           "is a 1-row bounds broadcast",
           lambda p: "Window" not in p)], ""),
        ("nelson_aalen",
         [("risk-set and hazard windows on the bounded duration grid",
           lambda p: "Window" in p)], ""),
        ("engle_granger_coint",
         [("two OLS aggregate passes + one lag window on the hourly "
           "grid",
           lambda p: "Window" in p)], ""),
        ("newey_west_trend",
         [("bounded-lag HAC windows (L=4 config constant) over the "
           "hourly grid",
           lambda p: "Window" in p)], ""),
        ("slo_multiwindow_alert",
         [("four rolling-frame windows over one ordered pass",
           lambda p: "Window" in p)], ""),
        ("rbo_topk",
         [("rank windows + epoch-pair equi join on top-k rows only; "
           "suffix-weight lookup in-row",
           lambda p: "Window" in p and "Join" in p)], ""),
        ("mrr_eval",
         [("one rank window per query + reduction",
           lambda p: "Window" in p)], ""),
        ("expected_reciprocal_rank",
         [("cascade prefix product as a cumulative log-sum window "
           "(no fold)",
           lambda p: "Window" in p)], ""),
        ("sample_entropy",
         [("pairwise self-join restricted to the bounded rollup "
           "series (documented contract)",
           lambda p: "Join" in p)], ""),
        ("canary_verdict",
         [("tie-corrected rank machinery on the bounded metric x "
           "cents grid",
           lambda p: "Window" in p)], ""),
        ("port_scan_detect",
         [("two keyed aggregates (window then source), no joins",
           lambda p: "Join" not in p)], ""),
        ("binseg_changepoints",
         [("prefix-sum windows + rank-1 argmax, splits rejoined as "
           "1-row aggregates (no driver state)",
           lambda p: "Window" in p)], ""),
        ("zip_mom_fit",
         [("grid-free (r5): nonzero-cell moments + two tiny distinct "
           "counts, closed-form MoM",
           lambda p: "Window" not in p)], ""),
        ("tail_dependence",
         [("exact count-logic quantiles on the bounded grid + one "
           "reduction",
           lambda p: "Window" in p)], ""),
        ("icc_oneway",
         [("one group aggregate + one reduction, ANOVA from power "
           "sums",
           lambda p: "Window" not in p and "Join" not in p)], ""),
        ("mcc_best_threshold",
         [("confusion sweep from two cumulative grid windows + "
           "rank-1 argmax",
           lambda p: "Window" in p)], ""),
        ("speaker_dominance",
         [("gaps-and-islands run windows + keyed aggregates",
           lambda p: "Window" in p)], ""),
        ("adjacent_turn_overlap",
         [("in-row array set ops + one lead window, no posting "
           "lists",
           lambda p: "Window" in p and "Join" not in p)], ""),
        ("wilcoxon_signed_rank",
         [("midranks on the bounded |d| grid only",
           lambda p: "Window" in p)], ""),
        ("skyline_pareto_front",
         [("sort-based cummax filter (one window + key join), NOT a "
           "quadratic dominance join",
           lambda p: "Window" in p)], ""),
        ("blocking_quality",
         [("pure count arithmetic (C(n,2) sums) — no pair ever "
           "materialized",
           lambda p: "Window" not in p)], ""),
        ("hill_diversity",
         [("two keyed aggregates, Hill numbers in-row",
           lambda p: "Window" not in p)], ""),
        ("s3_access_log_parse",
         [("single anchored regex, map-only",
           lambda p: "Join" not in p and "Window" not in p)], ""),
        ("diameter_double_sweep",
         [("final reduction over checkpointed BFS levels",
           lambda p: "Scan ExistingRDD" in p)], ""),
        ("graph_modularity",
         [("keyed community joins + single-row Q reduction over the "
           "checkpointed labeling",
           lambda p: "Join" in p)], ""),
        ("rich_club_coefficient",
         [("degree-joined bounded-k grid, no quadratic scan",
           lambda p: "Join" in p)], ""),
        ("kneser_ney_bigram",
         [("three counting aggregates + one join; vocabulary-bounded",
           lambda p: "Join" in p)], ""),
        ("shard_rebalance_plan",
         [("prefix-interval windows + one overlap join bounded by "
           "shard count",
           lambda p: "Window" in p)], ""),
        ("bloom_size_advisor",
         [("one distinct aggregate; sizing math in-row",
           lambda p: "Window" not in p)], ""),
        ("otsu_threshold",
         [("cumulative grid windows + rank-1 argmax (9dp rounded)",
           lambda p: "Window" in p)], ""),
        ("kde_modes",
         [("bounded grid x cents-grid kernel join; modes via "
           "lag/lead windows",
           lambda p: "Join" in p and "Window" in p)], ""),
        ("rank_aggregation",
         [("per-judge rank windows + bounded object-pair duel join",
           lambda p: "Window" in p and "Join" in p)], ""),
        ("topo_layers",
         [("final histogram over checkpointed superstep layers",
           lambda p: "Scan ExistingRDD" in p)], ""),
        ("markov_stationary",
         [("power iteration over the |S|^2-bounded matrix; final "
           "join against checkpointed pi",
           lambda p: "Scan ExistingRDD" in p)], ""),
        ("getis_ord_hotspots",
         [("bounded-grid neighborhood self-join + one reduction",
           lambda p: "Join" in p)], ""),
        ("anderson_darling_uniform",
         [("exact tie-block rank sums on the bounded grid; ranks "
           "never touch raw rows",
           lambda p: "Window" in p)], ""),
        ("kupiec_var_backtest",
         [("single aggregate; LR in closed form",
           lambda p: "Window" not in p and "Join" not in p)], ""),
        ("max_drawdown",
         [("cummax window + rank-1 argmax over the checkpointed "
           "series",
           lambda p: "Window" in p)], ""),
        ("graph_reciprocity",
         [("one semi-join on the reversed key + scalar reductions, "
           "fully in-plan",
           lambda p: "Join" in p)], ""),
        ("auc_hanley_ci",
         [("cents-grid midrank machinery + closed-form SE",
           lambda p: "Window" in p)], ""),
        ("ratio_metric_ci",
         [("per-unit aggregate + one moment reduction",
           lambda p: "Window" not in p)], ""),
        ("relative_risk_ci",
         [("single 2x2 aggregate; Katz CIs in-row",
           lambda p: "Window" not in p and "Join" not in p)], ""),
        ("fisher_price_index",
         [("bounded period x item cells; one item self-join",
           lambda p: "Join" in p)], ""),
        ("circular_stats_hours",
         [("one sin/cos aggregate; direction math in-row",
           lambda p: "Window" not in p and "Join" not in p)], ""),
        ("runlength_geometric",
         [("gaps-and-islands windows + bounded run-length histogram",
           lambda p: "Window" in p)], ""),
        ("person_time_incidence",
         [("per-unit exposure aggregate + one reduction",
           lambda p: "Window" not in p)], ""),
        ("bass_diffusion",
         [("one cumulative window + power-sum pass; Cramer in-row",
           lambda p: "Window" in p)], ""),
        ("seasonal_mann_kendall",
         [("within-season pairwise join on the bounded daily grid",
           lambda p: "Join" in p)], ""),
        ("l_moments",
         [("hockey-stick block sums on the value grid; never ranks "
           "raw rows",
           lambda p: "Window" in p)], ""),
        ("pinball_loss_eval",
         [("bounded collect_list frames (window is a config "
           "constant) + reductions",
           lambda p: "Window" in p)], ""),
        ("crps_empirical",
         [("bounded within-group member self-join for E|X-X'|",
           lambda p: "Join" in p)], ""),
        ("tracking_signal",
         [("two cumulative windows, flags in-row",
           lambda p: "Window" in p)], ""),
        ("msprt_always_valid",
         [("one cumulative-sum window -> whole Lambda trajectory",
           lambda p: "Window" in p)], ""),
        ("decision_curve_net_benefit",
         [("MCC-sweep confusion windows + bounded threshold list",
           lambda p: "Window" in p)], ""),
        ("auditd_parse",
         [("envelope regex + per-key anchored extraction, map-only",
           lambda p: "Join" not in p and "Window" not in p)], ""),
        ("spectral_flatness",
         [("bounded period-grid x series join; one reduction",
           lambda p: "Join" in p)], ""),
        ("mondrian_partition",
         [("count-logic medians on bounded grids + threshold joins",
           lambda p: "Window" in p)], ""),
        ("partial_correlation",
         [("one moment pass, algebra in-row",
           lambda p: "Window" not in p)], ""),
        ("ledoit_wolf_shrinkage",
         [("|items|^2-bounded pair aggregates; zero-fill via pivot, "
           "NO hours x types grid crossJoin",
           lambda p: "Join" in p
           and "BroadcastNestedLoopJoin" not in p
           and "CartesianProduct" not in p)], ""),
        # Grid-ban family (round-5): zero-inflation analytics must
        # compute zero cells ARITHMETICALLY, never materialize a
        # |keys| x |buckets| crossJoin grid (10^12 rows at 10^9 users
        # x 10^3 days).  The only nested-loop joins allowed are 1-row
        # aggregate broadcasts (formatted explain prints each op
        # twice, so the textual cap is 2x the real count).
        ("count_dispersion_diag",
         [("sparse zero-cell arithmetic: nested-loop joins only for "
           "1-row n_days broadcast (no users x days grid)",
           lambda p: p.count("BroadcastNestedLoopJoin") <= 2
           and "CartesianProduct" not in p
           and "SortMergeJoin" not in p)], ""),
        ("croston_intermittent",
         [("sparse demand-point fold: nested-loop joins only for "
           "1-row n_periods broadcast (no cohorts x days grid)",
           lambda p: p.count("BroadcastNestedLoopJoin") <= 2
           and "CartesianProduct" not in p
           and "SortMergeJoin" not in p)], ""),
        ("zip_mom_fit",
         [("sparse moments: nested-loop joins only for two 1-row "
           "aggregate broadcasts (no users x days grid)",
           lambda p: p.count("BroadcastNestedLoopJoin") <= 4
           and "CartesianProduct" not in p
           and "SortMergeJoin" not in p)], ""),
        ("poisson_scan_statistic",
         [("bounded rolling frames + rank-1 argmax",
           lambda p: "Window" in p)], ""),
        ("grey_gm11_forecast",
         [("one cumulative window + closed-form 2x2 OLS + bounded "
           "horizon explode",
           lambda p: "Window" in p)], ""),
        ("energy_distance",
         [("grid x grid weighted joins, never row-level pairs",
           lambda p: "Join" in p)], ""),
        ("biweight_midvariance",
         [("count-logic median/MAD + one weighted grid aggregate",
           lambda p: "Window" in p)], ""),
        ("k_truss",
         [("final support join over checkpointed peeled edges",
           lambda p: "Join" in p)], ""),
        ("histogram_bin_advisor",
         [("one grid pass + count-logic quartiles",
           lambda p: "Window" in p)], ""),
        ("youden_j_threshold",
         [("cents-grid confusion sweep + rank-1 argmax",
           lambda p: "Window" in p)], ""),
        ("surprisal_outliers",
         [("bounded cell grid + top-k rank window",
           lambda p: "Window" in p)], ""),
        ("hodges_lehmann_shift",
         [("grid x grid difference weights + one cumulative window; "
           "never row pairs",
           lambda p: "Window" in p)], ""),
        ("postgres_log_parse",
         [("anchored envelope + duration regexes, map-only",
           lambda p: "Join" not in p and "Window" not in p)], ""),
        ("yuen_trimmed_t",
         [("exact boundary-weighted winsorization on the per-group "
           "cents grid",
           lambda p: "Window" in p)], ""),
        ("ruin_probability",
         [("one claim-moment aggregate + bounded reserve grid",
           lambda p: "Window" not in p)], ""),
        ("topsis_ranking",
         [("bounded alt x criteria matrix aggregates throughout",
           lambda p: "Join" in p)], ""),
        ("hawkes_branching_ratio",
         [("bucket-count aggregate + moment reduction per group",
           lambda p: "Window" not in p)], ""),
        ("taylor_fluctuation_scaling",
         [("per-stream moments + closed-form log-log OLS",
           lambda p: "Window" not in p)], ""),
        ("jackknife_richness",
         [("two counting aggregates; estimators in-row",
           lambda p: "Window" not in p)], ""),
        ("seasonal_sen_slope",
         [("within-season pairwise join on the bounded daily grid; "
           "weighted median over the slope grid",
           lambda p: "Join" in p and "Window" in p)], ""),
        ("abc_classification",
         [("one rank/cumulative window on the bounded item table",
           lambda p: "Window" in p)], ""),
    ]:
        all_ok &= audit(nm, checks, out, notes)

    # every registry entry that no hand audit above built
    reg = queries()
    for nm, build in reg.items():
        if nm not in _WALKED and not walk(nm, build(spark, SF_DIR))[0]:
            _FAILED.append(nm)
    for nm in set().union(*EXCEPTIONS.values()) - set(reg):
        print(f"    [FAIL] exception {nm} is not a registry entry")
        _FAILED.append(nm)
    rows, listed = [], []
    for inv, desc in INVARIANTS.items():
        n = sum(inv in _WALKED[nm] for nm in reg)
        rows.append(f"| {desc} | {n} | {len(EXCEPTIONS[inv])} |")
        print(f"  invariant {desc}: {n} of {len(reg)} entries break it")
        if EXCEPTIONS[inv]:
            listed.append(f"- {desc}")
        listed += [f"  - `{nm}`: {why}" for nm, why in EXCEPTIONS[inv].items()]

    with open("PLANS.md", "w") as f:
        f.write(
            "# Physical plan audit (generated by scripts/audit_plans.py)\n\n"
            "Structural assertions on `explain('formatted')` output for the\n"
            "plans that matter at 100 TB. Regenerate after plan changes.\n"
            "Expression, plan and RDD ids, the core count and the input and\n"
            "scratch directories are normalised, so any host writes the same\n"
            "file.\n\n"
            "## Plan invariants\n\n"
            f"All {len(reg)} registry entries and the "
            f"{len(_WALKED) - len(reg)} other audited plans\nare planned with AQE off and walked as a "
            "tree. Only the listed\nentries may break an invariant.\n\n"
            "| invariant | registry entries that break it | excepted |\n"
            "|---|---|---|\n" + "\n".join(rows) + "\n\nExceptions:\n\n"
            + "\n".join(listed) + "\n\n"
        )
        for name, p, n_ex, n_cg, results, notes in out:
            f.write(f"## {name}\n\n")
            f.write(f"Exchanges: {n_ex} · WholeStageCodegen spans: {n_cg}\n\n")
            for desc, ok in results:
                f.write(f"- [{'x' if ok else ' '}] {desc}\n")
            if notes:
                f.write(f"\n_{notes}_\n")
            f.write("\n```\n")
            f.write(normalised(p, tmpd)[:3000])
            f.write("\n```\n\n")
    print("wrote PLANS.md")
    if _FAILED:
        print("FAILED AUDITS:", _FAILED)
    sys.exit(0 if all_ok and not _FAILED else 1)


if __name__ == "__main__":
    main()
