#!/usr/bin/env python3
"""Physical-plan audit: is each plan the one we'd want at 100 TB?

Dumps ``explain("formatted")`` for the flagship pipeline and key
operators, asserts structural properties (filter pushdown, broadcast
joins, exchange counts, codegen coverage), and writes PLANS.md.

Run: python scripts/audit_plans.py [sf_dir]
"""

from __future__ import annotations

import re
import sys

sys.path.insert(0, ".")

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"


def plan_of(df) -> str:
    return df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


def codegen_spans(df_fn, spark) -> int:
    """Count WholeStageCodegen spans for the plan.

    Under AQE, an unexecuted plan prints ``isFinalPlan=false`` with NO
    codegen annotations at all — counting stars on it is vacuous (the
    round-1 audit's bug).  Re-derive the plan with AQE off: codegen
    ids then appear as ``[codegen id : N]`` in the formatted details,
    and the span count is the number of distinct ids.
    """
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        p = plan_of(df_fn())
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    return len(set(re.findall(r"\[codegen id : (\d+)\]", p)))


def no_suffix_frame(p: str) -> bool:
    """No ``rowsBetween(currentRow, unboundedFollowing)`` window frame:
    Spark re-aggregates such a suffix for every row, O(grid^2) on a
    cents grid.  The classifier confusion sweep takes its suffix sums
    as whole-partition minus exclusive prefix instead."""
    return "currentrow$(), unboundedfollowing$()" not in p.lower()


SWEEP_FRAME_CHECK = (
    "O(grid) suffix sums (no currentrow..unboundedfollowing frame)",
    no_suffix_frame,
)


def suffix_frame_fixture(spark):
    """The confusion sweep as it was before its O(grid) fix: suffix
    sums over ``rowsBetween(0, Window.unboundedFollowing)``.  The
    ``no_suffix_frame`` guard must reject its plan."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from sparkcollector.operators.analytics import _cents_grid

    scored = spark.range(1000).select(
        (F.col("id") % 97 / 100).alias("s"), (F.col("id") % 2).alias("y")
    )
    w = Window.orderBy("v").rowsBetween(0, Window.unboundedFollowing)
    return _cents_grid(scored, F.col("s"), F.col("y")).select(
        "v",
        F.sum("pos").over(w).alias("tp"),
        F.sum(F.col("c") - F.col("pos")).over(w).alias("fp"),
    )


_FAILED: list = []


def audit(name, df_fn, checks, out, notes="", spark=None):
    df = df_fn()
    p = plan_of(df)
    n_exchange = len(re.findall(r"\bExchange\b", p))
    n_codegen = codegen_spans(df_fn, spark or df.sparkSession)
    results = []
    ok_all = True
    for desc, fn in checks:
        ok = fn(p)
        ok_all &= ok
        results.append((desc, ok))
    ok_cg = n_codegen >= 1
    ok_all &= ok_cg
    results.append((">=1 WholeStageCodegen span", ok_cg))
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
    from sparkcollector.queries import queries, transcripts_from_events

    spark = get_spark(app_name="plan-audit")
    out: list = []
    all_ok = True

    # 1. flagship pipeline: exactly ONE shuffle (repartition(conv_id));
    #    enrich joins broadcast; no sort-merge join anywhere.
    all_ok &= audit(
        "pipeline_routed",
        lambda: compile_pipeline()(transcripts_from_events(spark, SF_DIR)),
        [
            ("broadcast enrich (no SortMergeJoin)", lambda p: "SortMergeJoin" not in p),
            (">=2 BroadcastHashJoin", lambda p: p.count("BroadcastHashJoin") >= 2),
            ("no Scan ExistingRDD (dims are local relations)",
             lambda p: "Scan ExistingRDD" not in p),
            ("no Python (Catalyst regexp_extract parse)",
             lambda p: "EvalPython" not in p and "InPandas" not in p),
            ("sort is within partitions (no global Sort exchange after repartition)",
             lambda p: "rangepartitioning" not in p.lower()),
        ],
        out,
        "transcripts derivation adds a window exchange; the pipeline "
        "proper contributes exactly one hashpartitioning(conv_id) exchange.",
    )

    # 2. aggregation: partial (map-side) aggregation before the shuffle.
    all_ok &= audit(
        "count_connector",
        lambda: count_connector(
            compile_pipeline()(transcripts_from_events(spark, SF_DIR))
        ),
        [
            ("partial aggregation present", lambda p: "partial_count" in p or "Partial" in p),
            ("no shuffle join (broadcast enrich only)",
             lambda p: "SortMergeJoin" not in p and "ShuffledHashJoin" not in p),
            ("no Python (Catalyst regexp_extract parse)",
             lambda p: "EvalPython" not in p and "InPandas" not in p),
        ],
        out,
    )

    # 3. filter pushdown + column pruning reach the parquet scan.
    all_ok &= audit(
        "scan_pushdown",
        lambda: spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
        .filter(F.col("l_quantity") <= 10)
        .select("l_returnflag", "l_quantity"),
        [
            ("PushedFilters non-empty",
             lambda p: re.search(r"PushedFilters: \[[^\]]+\]", p) is not None),
            ("ReadSchema pruned to 2 columns",
             lambda p: (m := re.search(r"ReadSchema: struct<([^>]*)>", p)) is not None
             and len(m.group(1).split(",")) == 2),
        ],
        out,
    )

    # 4. broadcast_enrich query: both dims broadcast.
    all_ok &= audit(
        "broadcast_enrich",
        lambda: queries()["broadcast_enrich"](spark, SF_DIR),
        [
            ("both dim joins broadcast", lambda p: p.count("BroadcastHashJoin (") >= 2 or p.count("BroadcastHashJoin") >= 2),
            ("no SortMergeJoin", lambda p: "SortMergeJoin" not in p),
        ],
        out,
    )

    # 5. jaccard group-pairs: zero joins by construction.
    all_ok &= audit(
        "ngram_jaccard_dups",
        lambda: queries()["ngram_jaccard_dups"](spark, SF_DIR),
        [("ZERO joins (group-pairs design)", lambda p: "Join" not in p)],
        out,
    )

    # 6. topn window: single shuffle for the window.
    all_ok &= audit(
        "topn_per_group",
        lambda: queries()["topn_per_group"](spark, SF_DIR),
        [("window + filter, no join", lambda p: "Join" not in p)],
        out,
    )

    # 7. LSH verify join: NO forced BroadcastExchange feeding the
    #    candidate-set verify joins (unbounded at 100 TB) — AQE may
    #    still broadcast at runtime when stats fit, which is the point.
    #    The plan is post-localCheckpoint, so inspect the full query.
    from sparkcollector.operators.dedup import minhash_lsh_pairs

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    all_ok &= audit(
        "minhash_verify_join",
        lambda: minhash_lsh_pairs(docs, threshold=0.5, n=3, n_perm=16,
                                  rows_per_band=2),
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
        spark=spark,
    )

    # 8. tail_sample / discovery_correlation: no forced broadcast of
    #    fact-derived frames.
    all_ok &= audit(
        "tail_sample",
        lambda: queries()["tail_sample_error_convs"](spark, SF_DIR),
        [
            ("semi join present", lambda p: "LeftSemi" in p),
        ],
        out,
        spark=spark,
    )
    all_ok &= audit(
        "embedding_dups_bucketed",
        lambda: queries()["embedding_cosine_dups"](spark, SF_DIR),
        [
            ("cluster-keyed equi join (no cartesian product)",
             lambda p: "CartesianProduct" not in p
             and "BroadcastNestedLoopJoin" not in p),
        ],
        out,
        "IVF multi-assign + same-cluster join replaced the O(n^2) "
        "broadcast self-join in round 2.",
        spark=spark,
    )

    # 9. the confusion-sweep guard fires on the pre-fix suffix frame,
    #    so its passes on the sweep entries below are not vacuous.
    all_ok &= audit(
        "suffix_frame_guard_fixture",
        lambda: suffix_frame_fixture(spark),
        [("guard rejects rowsBetween(0, unboundedFollowing)",
          lambda p: not no_suffix_frame(p))],
        out,
        spark=spark,
    )

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
        lambda: compile_pipeline()(
            spark.table("transcripts_bucketed"), prepartitioned=True
        ),
        [
            ("ZERO shuffle exchanges (pure map job)",
             lambda p: not re.search(
                 r"Exchange (hash|range|SinglePartition|RoundRobin)", p)),
            ("broadcast enrich still present",
             lambda p: "BroadcastHashJoin" in p),
            ("no Scan ExistingRDD (dims are local relations)",
             lambda p: "Scan ExistingRDD" not in p),
            ("no Python (Catalyst regexp_extract parse)",
             lambda p: "EvalPython" not in p and "InPandas" not in p),
        ],
        out,
        "conv_id-bucketed input (Iceberg bucket-transform layout): the "
        "scan delivers conversation-whole hash-placed partitions, so "
        "nothing downstream needs a shuffle.",
        spark=spark,
    )
    all_ok &= audit(
        "decontaminate",
        lambda: queries()["decontaminate_benchmark"](spark, SF_DIR),
        [
            ("semi join on grams", lambda p: "LeftSemi" in p),
            ("no cartesian/broadcast-nested-loop",
             lambda p: "CartesianProduct" not in p
             and "BroadcastNestedLoopJoin" not in p),
        ],
        out,
        spark=spark,
    )
    all_ok &= audit(
        "chunk_overlap_map_only",
        lambda: queries()["chunk_overlap"](spark, SF_DIR),
        [
            ("zero exchanges (generator expression, no UDF)",
             lambda p: "Exchange" not in p and "Python" not in p),
        ],
        out,
        spark=spark,
    )
    all_ok &= audit(
        "stratified_sample_pushdown",
        lambda: queries()["stratified_sample"](spark, SF_DIR),
        [
            ("zero exchanges (deterministic hash filter)",
             lambda p: "Exchange" not in p),
        ],
        out,
        spark=spark,
    )

    all_ok &= audit(
        "pack_sequences",
        lambda: queries()["pack_sequences"](spark, SF_DIR),
        [
            ("exactly one exchange (per-group cumsum window)",
             lambda p: len(re.findall(r"Exchange \(\d+\)", p)) == 1),
            ("no Python / UDF in plan", lambda p: "Python" not in p),
        ],
        out,
        "concat-then-chunk packing: window cumsum is the only shuffle; "
        "explode + span arithmetic are codegen'd.",
        spark=spark,
    )
    all_ok &= audit(
        "shuffle_shards",
        lambda: queries()["shuffle_shards"](spark, SF_DIR),
        [
            ("one exchange (per-shard rank), NO global sort",
             lambda p: len(re.findall(r"Exchange \(\d+\)", p)) == 1
             and "rangepartitioning" not in p
             and "SinglePartition" not in p),
        ],
        out,
        "deterministic training shuffle: rank windows are per-shard — "
        "a single-partition row_number over the corpus never appears.",
        spark=spark,
    )
    all_ok &= audit(
        "pii_scrub_map_only",
        lambda: queries()["pii_scrub"](spark, SF_DIR),
        [
            ("zero exchanges (narrow regexp transform)",
             lambda p: "Exchange" not in p),
            ("no Python / UDF in plan", lambda p: "Python" not in p),
        ],
        out,
        spark=spark,
    )
    all_ok &= audit(
        "domain_mix",
        lambda: queries()["domain_mix"](spark, SF_DIR),
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
        spark=spark,
    )

    all_ok &= audit(
        "pq_adc_topk",
        lambda: queries()["pq_adc_topk"](spark, SF_DIR),
        [
            ("TakeOrdered (per-partition heaps), no global sort",
             lambda p: "TakeOrderedAndProject" in p),
            ("no Python / UDF in plan", lambda p: "Python" not in p),
        ],
        out,
        "ADC scan: codes + literal-LUT lookups are codegen'd into the "
        "scan; top-k is TakeOrdered — zero shuffles end to end.",
        spark=spark,
    )
    all_ok &= audit(
        "lm_doc_score",
        lambda: queries()["lm_doc_score"](spark, SF_DIR),
        [
            ("no forced broadcast of the vocab aggregate (AQE decides)",
             lambda p: "AdaptiveSparkPlan" in p),
            ("no Python / UDF in plan", lambda p: "Python" not in p),
        ],
        out,
        spark=spark,
    )
    all_ok &= audit(
        "sft_pair_extract",
        lambda: queries()["sft_pair_extract"](spark, SF_DIR),
        [
            ("exactly one exchange (the conversation-key window)",
             lambda p: len(re.findall(r"Exchange \(\d+\)", p)) == 1),
            ("no Python / UDF in plan", lambda p: "Python" not in p),
        ],
        out,
        spark=spark,
    )
    all_ok &= audit(
        "quantile_filter_per_domain",
        lambda: queries()["quantile_filter_per_domain"](spark, SF_DIR),
        [
            ("exactly one exchange (the per-domain window)",
             lambda p: len(re.findall(r"Exchange \(\d+\)", p)) == 1),
            ("scan prunes to the 3 used columns",
             lambda p: "text" not in p.split("ReadSchema")[-1][:200]
             if "ReadSchema" in p else False),
        ],
        out,
        spark=spark,
    )
    all_ok &= audit(
        "url_canonical_dedup",
        lambda: queries()["url_canonical_dedup"](spark, SF_DIR),
        [
            ("exactly one exchange (hash-agg on canonical URL)",
             lambda p: len(re.findall(r"Exchange \(\d+\)", p)) == 1),
            ("no Python / UDF in plan", lambda p: "Python" not in p),
        ],
        out,
        spark=spark,
    )

    all_ok &= audit(
        "interval_join_bucketed",
        lambda: queries()["interval_join_error_window"](spark, SF_DIR),
        [
            ("hash equi-join, NO nested loop / cartesian",
             lambda p: "BroadcastNestedLoopJoin" not in p
             and "CartesianProduct" not in p),
            ("no Python / UDF in plan", lambda p: "Python" not in p),
        ],
        out,
        "bucketed range join: interval explode -> equi-join on bucket + "
        "exact BETWEEN post-filter; the naive plan is a nested loop.",
        spark=spark,
    )
    all_ok &= audit(
        "bm25_retrieval",
        lambda: queries()["bm25_retrieval"](spark, SF_DIR),
        [
            ("no (doc, word) explode shuffle — only the 1-row stats agg "
             "exchanges",
             lambda p: "Generate" not in p),
            ("no Python / UDF in plan", lambda p: "Python" not in p),
        ],
        out,
        "term frequencies via array HOFs over split(text); the only "
        "joins are against a 1-row aggregate.",
        spark=spark,
    )
    all_ok &= audit(
        "inverted_index_postings",
        lambda: queries()["inverted_index_postings"](spark, SF_DIR),
        [
            ("(term, doc) roll-up + df-guard agg/join + per-term window "
             "(the extra shuffle IS the stop-term guard: max_df filters "
             "BEFORE any single reducer sorts a term's postings)",
             lambda p: len(re.findall(r"Exchange \(\d+\)", p)) <= 8),
            ("no Python / UDF in plan", lambda p: "Python" not in p),
        ],
        out,
        spark=spark,
    )

    all_ok &= audit(
        "m4_downsample",
        lambda: queries()["m4_downsample"](spark, SF_DIR),
        [
            ("one grouped pass (single exchange), no window sort",
             lambda p: len(re.findall(r"Exchange \(\d+\)", p)) == 1
             and "Window" not in p),
        ],
        out,
        spark=spark,
    )
    all_ok &= audit(
        "zorder_clustering_key",
        lambda: queries()["zorder_clustering_key"](spark, SF_DIR),
        [
            ("zero exchanges (pure arithmetic fold)",
             lambda p: "Exchange" not in p),
            ("no Python / UDF in plan", lambda p: "Python" not in p),
        ],
        out,
        spark=spark,
    )
    all_ok &= audit(
        "cm_sketch_counts",
        lambda: queries()["cm_sketch_counts"](spark, SF_DIR),
        [
            ("no nested loop / cartesian anywhere",
             lambda p: "CartesianProduct" not in p),
            ("adaptive plan (bounded sketch side broadcast at runtime)",
             lambda p: "AdaptiveSparkPlan" in p),
        ],
        out,
        spark=spark,
    )

    all_ok &= audit(
        "time_rollup_pyramid",
        lambda: queries()["time_rollup_pyramid"](spark, SF_DIR),
        [
            ("ONE scan feeds all levels (grouping-sets Expand, a single "
             "aggregation exchange — not one scan per resolution)",
             lambda p: "Expand" in p
             and len(re.findall(r"\(\d+\) Scan parquet", p)) == 1
             and len(re.findall(r"Exchange \(\d+\)", p)) <= 1),
            ("no Python / UDF in plan", lambda p: "Python" not in p),
        ],
        out,
        spark=spark,
    )
    all_ok &= audit(
        "slo_burn_rate",
        lambda: queries()["slo_burn_rate"](spark, SF_DIR),
        [
            ("two grouped passes (short->long window roll-up), no "
             "window-function sort of raw rows",
             lambda p: len(re.findall(r"Exchange \(\d+\)", p)) <= 2
             and "Window" not in p),
        ],
        out,
        spark=spark,
    )
    all_ok &= audit(
        "scd2_intervals_build",
        lambda: queries()["scd2_intervals_build"](spark, SF_DIR),
        [
            ("single keyed exchange feeding one window (lead/row_number "
             "share the same sort)",
             lambda p: len(re.findall(r"Exchange \(\d+\)", p)) == 1
             and len(re.findall(r"\bWindow\b", p)) <= 2),
        ],
        out,
        spark=spark,
    )
    all_ok &= audit(
        "revenue_by_nation_month",
        lambda: queries()["revenue_by_nation_month"](spark, SF_DIR),
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
        spark=spark,
    )
    all_ok &= audit(
        "session_window_agg",
        lambda: queries()["session_window_agg"](spark, SF_DIR),
        [
            ("native session-window aggregation: one keyed exchange, no "
             "self-join",
             lambda p: len(re.findall(r"Exchange \(\d+\)", p)) <= 1
             and "Join" not in p),
        ],
        out,
        spark=spark,
    )
    all_ok &= audit(
        "histogram_quantile_p95",
        lambda: queries()["histogram_quantile_p95"](spark, SF_DIR),
        [
            ("bucket fold is in-row (no second shuffle after the bucket "
             "aggregation; no join back)",
             lambda p: len(re.findall(r"Exchange \(\d+\)", p)) <= 2
             and "Join" not in p),
            ("no Python / UDF in plan", lambda p: "Python" not in p),
        ],
        out,
        spark=spark,
    )

    all_ok &= audit(
        "c4_line_filter",
        lambda: queries()["c4_line_filter"](spark, SF_DIR),
        [
            ("one grouped pass after the line explode (no join back, "
             "in-row struct sort)",
             lambda p: "Join" not in p
             and len(re.findall(r"Exchange \(\d+\)", p)) <= 1),
            ("no Python / UDF in plan", lambda p: "Python" not in p),
        ],
        out,
        spark=spark,
    )
    all_ok &= audit(
        "line_dedup_boilerplate",
        lambda: queries()["line_dedup_boilerplate"](spark, SF_DIR),
        [
            ("no forced broadcast of the hot-line set (AQE decides); "
             "no cartesian",
             lambda p: "CartesianProduct" not in p
             and "AdaptiveSparkPlan" in p),
        ],
        out,
        "hot set is df-guarded (> max_df lines only) so the join side "
        "is bounded by construction.",
        spark=spark,
    )
    all_ok &= audit(
        "counter_reset_rate",
        lambda: queries()["counter_reset_rate"](spark, SF_DIR),
        [
            ("single keyed exchange, one Window (lag of value and ts "
             "share the sort)",
             lambda p: len(re.findall(r"Exchange \(\d+\)", p)) == 1),
            ("no Python / UDF in plan", lambda p: "Python" not in p),
        ],
        out,
        spark=spark,
    )
    all_ok &= audit(
        "seasonal_anomaly",
        lambda: queries()["seasonal_anomaly"](spark, SF_DIR),
        [
            ("raw table scanned once; anomaly stats run on the window-"
             "count table (slot-scale), not row-scale",
             lambda p: len(re.findall(r"\(\d+\) Scan parquet", p)) == 1),
        ],
        out,
        spark=spark,
    )

    all_ok &= audit(
        "simhash_portable",
        lambda: queries()["simhash_portable"](spark, SF_DIR),
        [
            ("zero exchanges (per-row fingerprint is a pure projection)",
             lambda p: "Exchange" not in p),
            ("no Python / UDF in plan (md5+HOF votes stay in codegen)",
             lambda p: "Python" not in p),
        ],
        out,
        spark=spark,
    )

    all_ok &= audit(
        "apdex_score",
        lambda: queries()["apdex_score"](spark, SF_DIR),
        [
            ("one grouped pass of conditional aggregates (single keyed "
             "exchange, map-side partials)",
             lambda p: len(re.findall(r"Exchange \(\d+\)", p)) == 1
             and "partial" in p.lower()),
            ("no Python / UDF in plan", lambda p: "Python" not in p),
        ],
        out,
        spark=spark,
    )
    all_ok &= audit(
        "service_graph_edges",
        lambda: queries()["service_graph_edges"](spark, SF_DIR),
        [
            ("parent link resolved by ONE equi-join (no cartesian, no "
             "iterative propagation)",
             lambda p: "CartesianProduct" not in p
             and "BroadcastNestedLoopJoin" not in p),
            ("no Python / UDF in plan", lambda p: "Python" not in p),
            ("edge aggregate output is |labels|^2-bounded: final agg "
             "keyed on (caller, callee)",
             lambda p: "caller" in p and "callee" in p),
        ],
        out,
        "both join sides derive from the same windowed frame; at 100 TB "
        "the join shuffles on the composite parent pointer — no "
        "forced broadcast, AQE decides.",
        spark=spark,
    )

    all_ok &= audit(
        "exp_histogram_merge",
        lambda: queries()["exp_histogram_merge"](spark, SF_DIR),
        [
            ("no Python / UDF in plan (log/floor binning + window min "
             "+ keyed agg all codegen)",
             lambda p: "Python" not in p),
            ("no cartesian / nested-loop join",
             lambda p: "CartesianProduct" not in p
             and "NestedLoop" not in p),
        ],
        out,
        "window + merge agg run on the BUCKET table (series x occupied "
        "buckets), orders of magnitude below datapoint volume.",
        spark=spark,
    )
    all_ok &= audit(
        "trace_critical_path",
        lambda: queries()["trace_critical_path"](spark, SF_DIR),
        [
            ("no Python / UDF in plan", lambda p: "Python" not in p),
            ("leaf selection is a left-anti join (no NOT IN subquery "
             "rewrite into nested loops)",
             lambda p: "LeftAnti" in p and "NestedLoop" not in p),
        ],
        out,
        "path expansion is pointer-doubled upstream (log-depth rounds, "
        "lineage truncated per round) — the audited plan prices paths "
        "with one explode+join+agg and a per-root argmax window.",
        spark=spark,
    )
    all_ok &= audit(
        "scalar_quantize_error",
        lambda: queries()["scalar_quantize_error"](spark, SF_DIR),
        [
            ("corpus stats join is a 1-row BROADCAST (no shuffle of "
             "the vector table)",
             lambda p: "BroadcastNestedLoopJoin" in p
             or "BroadcastExchange" in p),
            ("no Python / UDF in plan (codes, dequant, MSE fold all "
             "array HOFs)",
             lambda p: "Python" not in p),
        ],
        out,
        spark=spark,
    )

    all_ok &= audit(
        "rate_limit_throttle",
        lambda: queries()["rate_limit_throttle"](spark, SF_DIR),
        [
            ("window rank and count agg share the (key, win_start) "
             "partitioning (<=2 exchanges)",
             lambda p: len(re.findall(r"Exchange \(\d+\)", p)) <= 2),
            ("no Python / UDF in plan", lambda p: "Python" not in p),
        ],
        out,
        "tumbling-window N-per-key throttle: embarrassingly parallel "
        "(vs the reference's sequential last-emission chain, which is "
        "the bounded-cardinality throttle_exact fold).",
        spark=spark,
    )
    all_ok &= audit(
        "compaction_binpack",
        lambda: queries()["compaction_binpack"](spark, SF_DIR),
        [
            ("single keyed exchange: prefix-sum window and group agg "
             "share the source partitioning",
             lambda p: len(re.findall(r"Exchange \(\d+\)", p)) <= 2),
            ("no Python / UDF in plan", lambda p: "Python" not in p),
        ],
        out,
        "compaction planning parallel per source partition; group id "
        "is pure arithmetic on the exclusive prefix sum.",
        spark=spark,
    )
    all_ok &= audit(
        "ewma_event_rate",
        lambda: queries()["ewma_event_rate"](spark, SF_DIR),
        [
            ("fold runs on the BUCKET table (minute counts), not raw "
             "rows: bucket agg partials before the keyed exchange",
             lambda p: "partial" in p.lower()),
            ("no Python / UDF in plan (sequential recurrence is an "
             "in-row array fold)", lambda p: "Python" not in p),
        ],
        out,
        spark=spark,
    )

    all_ok &= audit(
        "hll_distinct",
        lambda: queries()["hll_distinct"](spark, SF_DIR),
        [
            ("register build has map-side partials (max combines "
             "before the shuffle)", lambda p: "partial" in p.lower()),
            ("no Python / UDF in plan (md5 split + bin-length rho all "
             "codegen)", lambda p: "Python" not in p),
        ],
        out,
        "the sketch shuffles m=256 cells per group, never key "
        "cardinality — the 10^12-row twin of count_distinct.",
        spark=spark,
    )
    all_ok &= audit(
        "bloom_filter_probe",
        lambda: queries()["bloom_filter_probe"](spark, SF_DIR),
        [
            ("no cartesian / nested-loop join",
             lambda p: "CartesianProduct" not in p),
            ("no Python / UDF in plan", lambda p: "Python" not in p),
        ],
        out,
        "positions table is <= m_bits rows by construction — AQE "
        "broadcasts the probe join; only maybe-rows need exact "
        "follow-up at scale.",
        spark=spark,
    )
    all_ok &= audit(
        "kmeans_lloyd_step",
        lambda: queries()["kmeans_lloyd_step"](spark, SF_DIR),
        [
            ("embeddings scanned once (assign + component sums in one "
             "pass)",
             lambda p: len(re.findall(r"\(\d+\) Scan parquet", p)) == 1),
            ("component sums combine map-side (shuffle is k*dim "
             "cells, never vector count)",
             lambda p: "partial" in p.lower()),
            ("no Python / UDF in plan", lambda p: "Python" not in p),
        ],
        out,
        spark=spark,
    )

    all_ok &= audit(
        "exemplar_attach",
        lambda: queries()["exemplar_attach"](spark, SF_DIR),
        [
            ("rank window and bucket aggregate share ONE keyed "
             "exchange (same (group, window, bucket) keys)",
             lambda p: len(re.findall(r"Exchange \(\d+\)", p)) <= 1),
            ("no Python / UDF in plan", lambda p: "Python" not in p),
        ],
        out,
        "output is bucket-cardinality; the exemplar pick is a "
        "deterministic argmax inside the same shuffle.",
        spark=spark,
    )
    all_ok &= audit(
        "exp_histogram_quantile",
        lambda: queries()["exp_histogram_quantile"](spark, SF_DIR),
        [
            ("bucket build combines map-side before the keyed "
             "exchange", lambda p: "partial" in p.lower()),
            ("no Python / UDF in plan", lambda p: "Python" not in p),
        ],
        out,
        "cumsum window runs on the bucket table (group x occupied "
        "buckets), never raw datapoints.",
        spark=spark,
    )
    all_ok &= audit(
        "semconv_migrate",
        lambda: queries()["semconv_migrate"](spark, SF_DIR),
        [
            ("zero exchanges: rename fold is a pure projection",
             lambda p: len(re.findall(r"Exchange \(\d+\)", p)) == 0),
            ("no Python / UDF in plan (map HOFs only)",
             lambda p: "Python" not in p),
        ],
        out,
        spark=spark,
    )
    all_ok &= audit(
        "carbon_line_parse",
        lambda: queries()["carbon_line_parse"](spark, SF_DIR),
        [
            ("zero exchanges: line grammar is regexp + array HOFs",
             lambda p: len(re.findall(r"Exchange \(\d+\)", p)) == 0),
            ("no Python / UDF in plan", lambda p: "Python" not in p),
        ],
        out,
        spark=spark,
    )
    all_ok &= audit(
        "influx_line_parse",
        lambda: queries()["influx_line_parse"](spark, SF_DIR),
        [
            ("zero exchanges: parse + field explode are map-side",
             lambda p: len(re.findall(r"Exchange \(\d+\)", p)) == 0),
            ("row growth only via Generate (field explode)",
             lambda p: "Generate" in p),
            ("no Python / UDF in plan", lambda p: "Python" not in p),
        ],
        out,
        spark=spark,
    )
    all_ok &= audit(
        "hec_envelope",
        lambda: queries()["hec_envelope"](spark, SF_DIR),
        [
            ("union branches aggregate with map-side partials",
             lambda p: "partial" in p.lower()),
            ("no Python / UDF in plan (get_json_object + from_json)",
             lambda p: "Python" not in p),
        ],
        out,
        spark=spark,
    )
    all_ok &= audit(
        "collectd_flatten",
        lambda: queries()["collectd_flatten"](spark, SF_DIR),
        [
            ("zero exchanges: from_json + double explode, map-side",
             lambda p: len(re.findall(r"Exchange \(\d+\)", p)) == 0),
            ("no Python / UDF in plan", lambda p: "Python" not in p),
        ],
        out,
        spark=spark,
    )
    all_ok &= audit(
        "k8s_owner_workloads",
        lambda: queries()["k8s_owner_workloads"](spark, SF_DIR),
        [
            ("owner chain resolves via BroadcastHashJoin",
             lambda p: "BroadcastHashJoin" in p),
            ("no SortMergeJoin (dimension side is cluster metadata, "
             "always broadcastable)", lambda p: "SortMergeJoin" not in p),
            ("no Python / UDF in plan", lambda p: "Python" not in p),
        ],
        out,
        "at 100 TB the pod fact stream hash-looks-up workloads "
        "map-side; zero shuffle of the fact table.",
        spark=spark,
    )
    all_ok &= audit(
        "resource_detection_precedence",
        lambda: queries()["resource_detection_precedence"](spark, SF_DIR),
        [
            ("zero exchanges: precedence folds to coalesce in one "
             "Project",
             lambda p: len(re.findall(r"Exchange \(\d+\)", p)) == 0),
            ("no Python / UDF in plan", lambda p: "Python" not in p),
        ],
        out,
        spark=spark,
    )
    all_ok &= audit(
        "length_bucket_batches",
        lambda: queries()["length_bucket_batches"](spark, SF_DIR),
        [
            ("single keyed exchange for the per-bucket pack window",
             lambda p: len(re.findall(r"Exchange \(\d+\)", p)) <= 1),
            ("no Python / UDF in plan (bit-length padding, integer "
             "arithmetic)", lambda p: "Python" not in p),
        ],
        out,
        "window keys are (source, padded_len) — many balanced "
        "buckets, so the pack parallelizes at any scale.",
        spark=spark,
    )
    all_ok &= audit(
        "range_partition_bounds",
        lambda: queries()["range_partition_bounds"](spark, SF_DIR),
        [
            ("histogram combines map-side before the value shuffle",
             lambda p: "partial" in p.lower()),
            ("no Python / UDF in plan", lambda p: "Python" not in p),
        ],
        out,
        "cumsum window runs over DISTINCT key values (post-histogram), "
        "not rows — the fact table collapses in the map stage.",
        spark=spark,
    )
    all_ok &= audit(
        "pagerank_iteration",
        lambda: queries()["pagerank_iteration"](spark, SF_DIR),
        [
            ("contribution aggregate has map-side partials",
             lambda p: "partial" in p.lower()),
            ("dangling mass joins back as a broadcast (1-row "
             "aggregate)", lambda p: "BroadcastNestedLoopJoin" in p
             or "BroadcastHashJoin" in p),
            ("no Python / UDF in plan", lambda p: "Python" not in p),
        ],
        out,
        "state per round is one (node, rank) table; shuffles keyed "
        "by node id only.",
        spark=spark,
    )

    for name in (
        "syslog_parse_fields",
        "journald_export",
        "wavefront_points",
    ):
        all_ok &= audit(
            name,
            (lambda n: lambda: queries()[n](spark, SF_DIR))(name),
            [
                ("zero exchanges: line/JSON grammar is regexp + HOFs",
                 lambda p: len(re.findall(r"Exchange \(\d+\)", p)) == 0),
                ("no Python / UDF in plan", lambda p: "Python" not in p),
            ],
            out,
            spark=spark,
        )
    all_ok &= audit(
        "alert_hysteresis_edges",
        lambda: queries()["alert_hysteresis_edges"](spark, SF_DIR),
        [
            ("hysteresis state is ONE last_value window (no fold, no "
             "self-join): single keyed exchange shared with the "
             "aggregate",
             lambda p: len(re.findall(r"Exchange \(\d+\)", p)) <= 1),
            ("no Python / UDF in plan", lambda p: "Python" not in p),
        ],
        out,
        spark=spark,
    )
    all_ok &= audit(
        "flap_windows",
        lambda: queries()["flap_windows"](spark, SF_DIR),
        [
            ("lag window and window-count aggregate share the key "
             "exchange",
             lambda p: len(re.findall(r"Exchange \(\d+\)", p)) <= 2),
            ("no Python / UDF in plan", lambda p: "Python" not in p),
        ],
        out,
        spark=spark,
    )
    all_ok &= audit(
        "rollup_by_type",
        lambda: queries()["rollup_by_type"](spark, SF_DIR),
        [
            ("ONE grouped pass for all rollup types (conditional "
             "aggregates, map-side partials)",
             lambda p: "partial" in p.lower()),
            ("no Python / UDF in plan", lambda p: "Python" not in p),
        ],
        out,
        spark=spark,
    )
    all_ok &= audit(
        "chat_format_lint",
        lambda: queries()["chat_format_lint"](spark, SF_DIR),
        [
            ("lag window and lint aggregate share the conversation "
             "key exchange (plus the transcripts-view turn window)",
             lambda p: len(re.findall(r"Exchange \(\d+\)", p)) <= 2),
            ("no Python / UDF in plan", lambda p: "Python" not in p),
        ],
        out,
        spark=spark,
    )
    all_ok &= audit(
        "train_val_test_split",
        lambda: queries()["train_val_test_split"](spark, SF_DIR),
        [
            ("single stratum-key exchange (rank + stratum count share "
             "it)",
             lambda p: len(re.findall(r"Exchange \(\d+\)", p)) <= 1),
            ("no Python / UDF in plan", lambda p: "Python" not in p),
        ],
        out,
        spark=spark,
    )
    all_ok &= audit(
        "truncate_middle_tokens",
        lambda: queries()["truncate_middle_tokens"](spark, SF_DIR),
        [
            ("zero exchanges: pure in-row array slicing",
             lambda p: len(re.findall(r"Exchange \(\d+\)", p)) == 0),
            ("no Python / UDF in plan", lambda p: "Python" not in p),
        ],
        out,
        spark=spark,
    )
    all_ok &= audit(
        "k8s_labels_props_tags",
        lambda: queries()["k8s_labels_props_tags"](spark, SF_DIR),
        [
            ("zero exchanges: map_entries explode is map-side",
             lambda p: len(re.findall(r"Exchange \(\d+\)", p)) == 0),
            ("no Python / UDF in plan", lambda p: "Python" not in p),
        ],
        out,
        spark=spark,
    )
    all_ok &= audit(
        "struct_flatten_dotpath",
        lambda: queries()["struct_flatten_dotpath"](spark, SF_DIR),
        [
            ("zero exchanges: schema-driven flatten is one Project",
             lambda p: len(re.findall(r"Exchange \(\d+\)", p)) == 0),
            ("no Python / UDF in plan", lambda p: "Python" not in p),
        ],
        out,
        spark=spark,
    )
    all_ok &= audit(
        "tokenizer_fertility",
        lambda: queries()["tokenizer_fertility"](spark, SF_DIR),
        [
            ("per-language sums combine map-side before the lang "
             "exchange", lambda p: "partial" in p.lower()),
            ("no Python / UDF in plan (langid + BPE counts are HOFs)",
             lambda p: "Python" not in p),
        ],
        out,
        spark=spark,
    )
    all_ok &= audit(
        "loss_mask_spans",
        lambda: queries()["loss_mask_spans"](spark, SF_DIR),
        [
            ("two keyed exchanges: the view's turn-number window "
             "(user_id) and the cumsum window (conv_id — derived "
             "from user_id, but Catalyst cannot know that)",
             lambda p: len(re.findall(r"Exchange \(\d+\)", p)) <= 2),
            ("no Python / UDF in plan", lambda p: "Python" not in p),
        ],
        out,
        "at scale, pre-partitioning the transcripts table by user_id "
        "makes both windows shuffle-free (same policy as the "
        "pipeline's conv_id repartition).",
        spark=spark,
    )
    all_ok &= audit(
        "curriculum_order_bands",
        lambda: queries()["curriculum_order_bands"](spark, SF_DIR),
        [
            ("band offsets join back as a broadcast",
             lambda p: "BroadcastHashJoin" in p),
            ("no SortMergeJoin (offsets table is |bands| rows)",
             lambda p: "SortMergeJoin" not in p),
            ("no Python / UDF in plan", lambda p: "Python" not in p),
        ],
        out,
        "the only unpartitioned window runs over the per-band count "
        "table (|bands| rows), never the corpus.",
        spark=spark,
    )
    all_ok &= audit(
        "staleness_segments",
        lambda: queries()["staleness_segments"](spark, SF_DIR),
        [
            ("marker cumsum window and segment aggregate share the "
             "series-key exchange",
             lambda p: len(re.findall(r"Exchange \(\d+\)", p)) <= 1),
            ("no Python / UDF in plan", lambda p: "Python" not in p),
        ],
        out,
        spark=spark,
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
            (lambda n: lambda: queries()[n](spark, SF_DIR))(name),
            [
                (f"shuffle exchanges bounded (<= {max_ex}, excluding "
                 "broadcast/reused); windows/aggregates run on "
                 "collapsed tables",
                 (lambda m: lambda p: len(
                     re.findall(r"(?<!Broadcast)(?<!d)Exchange \(\d+\)",
                                p)) <= m)(max_ex)),
                ("no Python / UDF in plan", lambda p: "Python" not in p),
            ],
            out,
            spark=spark,
        )
    all_ok &= audit(
        "winsorize_clamp",
        lambda: queries()["winsorize_clamp"](spark, SF_DIR),
        [
            ("percentile bounds join back as a broadcast",
             lambda p: "BroadcastHashJoin" in p),
            ("no SortMergeJoin (bounds table is |groups| rows)",
             lambda p: "SortMergeJoin" not in p),
            ("no Python / UDF in plan", lambda p: "Python" not in p),
        ],
        out,
        spark=spark,
    )
    all_ok &= audit(
        "mad_outlier_flags",
        lambda: queries()["mad_outlier_flags"](spark, SF_DIR),
        [
            ("median/MAD join back as broadcasts",
             lambda p: "BroadcastHashJoin" in p),
            ("no SortMergeJoin", lambda p: "SortMergeJoin" not in p),
            ("no Python / UDF in plan", lambda p: "Python" not in p),
        ],
        out,
        spark=spark,
    )
    all_ok &= audit(
        "snapshot_diff_docs",
        lambda: queries()["snapshot_diff_docs"](spark, SF_DIR),
        [
            ("exactly one full-outer join, keyed on the diff key",
             lambda p: p.count("FullOuter") >= 1),
            ("no cartesian product", lambda p: "Cartesian" not in p),
            ("no Python / UDF in plan", lambda p: "Python" not in p),
        ],
        out,
        spark=spark,
    )
    all_ok &= audit(
        "tool_cooccurrence_lift",
        lambda: queries()["tool_cooccurrence_lift"](spark, SF_DIR),
        [
            ("pair join runs on DISTINCT presence (dedup before the "
             "self-join)", lambda p: "partial" in p.lower()),
            ("item totals and group count join back as broadcasts",
             lambda p: "BroadcastHashJoin" in p
             or "BroadcastNestedLoopJoin" in p),
            ("no Python / UDF in plan", lambda p: "Python" not in p),
        ],
        out,
        spark=spark,
    )
    all_ok &= audit(
        "negative_pairs_docs",
        lambda: queries()["negative_pairs_docs"](spark, SF_DIR),
        [
            ("rank + wraparound join share the shard-key exchanges "
             "(no global sort)",
             lambda p: len(re.findall(r"Exchange \(\d+\)", p)) <= 4),
            ("no cartesian product", lambda p: "Cartesian" not in p),
            ("no Python / UDF in plan", lambda p: "Python" not in p),
        ],
        out,
        spark=spark,
    )
    all_ok &= audit(
        "paragraph_dedup_docs",
        lambda: queries()["paragraph_dedup_docs"](spark, SF_DIR),
        [
            ("zero exchanges: in-row array HOFs only",
             lambda p: len(re.findall(r"Exchange \(\d+\)", p)) == 0),
            ("no Python / UDF in plan", lambda p: "Python" not in p),
        ],
        out,
        spark=spark,
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
            (lambda n: lambda: queries()[n](spark, SF_DIR))(name),
            [
                (f"shuffle exchanges bounded (<= {max_ex}, excluding "
                 "broadcast/reused)",
                 (lambda m: lambda p: len(
                     re.findall(r"(?<!Broadcast)(?<!d)Exchange \(\d+\)",
                                p)) <= m)(max_ex)),
                ("no Python / UDF in plan", lambda p: "Python" not in p),
            ],
            out,
            spark=spark,
        )
    all_ok &= audit(
        "bloom_join_prune_audit",
        lambda: queries()["bloom_join_prune_audit"](spark, SF_DIR),
        [
            ("positions table joins as a broadcast (<= m_bits rows by "
             "construction)", lambda p: "Broadcast" in p),
            ("no cartesian product", lambda p: "CartesianProduct" not in p),
            ("no Python / UDF in plan", lambda p: "Python" not in p),
        ],
        out,
        spark=spark,
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
            (lambda n: lambda: queries()[n](spark, SF_DIR))(name),
            [
                (f"shuffle exchanges bounded (<= {max_ex}, excluding "
                 "broadcast/reused)",
                 (lambda m: lambda p: len(
                     re.findall(r"(?<!Broadcast)(?<!d)Exchange \(\d+\)",
                                p)) <= m)(max_ex)),
                ("no Python / UDF in plan", lambda p: "Python" not in p),
            ],
            out,
            spark=spark,
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
            (lambda n: lambda: queries()[n](spark, SF_DIR))(name),
            [
                (f"shuffle exchanges bounded (<= {max_ex}, excluding "
                 "broadcast/reused)",
                 (lambda m: lambda p: len(
                     re.findall(r"(?<!Broadcast)(?<!d)Exchange \(\d+\)",
                                p)) <= m)(max_ex)),
                ("no Python / UDF in plan", lambda p: "Python" not in p),
            ],
            out,
            spark=spark,
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
            (lambda n: lambda: queries()[n](spark, SF_DIR))(name),
            [
                (f"shuffle exchanges bounded (<= {max_ex}, excluding "
                 "broadcast/reused)",
                 (lambda m: lambda p: len(
                     re.findall(r"(?<!Broadcast)(?<!d)Exchange \(\d+\)",
                                p)) <= m)(max_ex)),
                ("no Python / UDF in plan", lambda p: "Python" not in p),
            ],
            out,
            spark=spark,
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
            (lambda n: lambda: queries()[n](spark, SF_DIR))(name),
            [
                (f"shuffle exchanges bounded (<= {max_ex}, excluding "
                 "broadcast/reused)",
                 (lambda m: lambda p: len(
                     re.findall(r"(?<!Broadcast)(?<!d)Exchange \(\d+\)",
                                p)) <= m)(max_ex)),
                ("no Python / UDF in plan", lambda p: "Python" not in p),
            ],
            out,
            spark=spark,
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
            (lambda n: lambda: queries()[n](spark, SF_DIR))(name),
            [
                (f"shuffle exchanges bounded (<= {max_ex}, excluding "
                 "broadcast/reused)",
                 (lambda m: lambda p: len(
                     re.findall(r"(?<!Broadcast)(?<!d)Exchange \(\d+\)",
                                p)) <= m)(max_ex)),
                ("no Python / UDF in plan", lambda p: "Python" not in p),
            ],
            out,
            spark=spark,
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
            (lambda n: lambda: queries()[n](spark, SF_DIR))(name),
            [
                (f"shuffle exchanges bounded (<= {max_ex}, excluding "
                 "broadcast/reused)",
                 (lambda m: lambda p: len(
                     re.findall(r"(?<!Broadcast)(?<!d)Exchange \(\d+\)",
                                p)) <= m)(max_ex)),
                ("no Python / UDF in plan", lambda p: "Python" not in p),
            ],
            out,
            spark=spark,
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
            (lambda n: lambda: queries()[n](spark, SF_DIR))(name),
            [
                ("no broadcast hint in logical plan (size-based only; "
                 "AQE/stats decide)",
                 (lambda ok: lambda p: ok)(hint_free)),
                ("partial aggregation before the stats shuffle",
                 lambda p: "Partial" in p or "partial_" in p),
                ("no Python / UDF in plan", lambda p: "Python" not in p),
            ],
            out,
            spark=spark,
        )

    # round-3 batches 51-53: statistics screens + corpus-shape audits.
    for name in ("benford_audit", "burstiness_fano", "lognormal_fit",
                 "hapax_richness"):
        all_ok &= audit(
            name,
            (lambda n: lambda: queries()[n](spark, SF_DIR))(name),
            [
                ("grouped moments combine map-side (partial "
                 "aggregation before the key shuffle)",
                 lambda p: "partial" in p.lower()),
                ("no Python / UDF in plan", lambda p: "Python" not in p),
            ],
            out,
            spark=spark,
        )
    all_ok &= audit(
        "acf_lags",
        lambda: queries()["acf_lags"](spark, SF_DIR),
        [
            ("lag windows and the moment aggregate share the series-key "
             "exchanges (gap-filled grid adds one)",
             lambda p: len(re.findall(r"Exchange \(\d+\)", p)) <= 4),
            ("no Python / UDF in plan", lambda p: "Python" not in p),
        ],
        out,
        "all four lags come off ONE ordered window pass; sums are "
        "exact integers until the final double division.",
        spark=spark,
    )
    all_ok &= audit(
        "bigram_pmi",
        lambda: queries()["bigram_pmi"](spark, SF_DIR),
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
            ("no Python / UDF in plan", lambda p: "Python" not in p),
        ],
        out,
        "unigram joins stay KEYED (vocabulary can exceed broadcast "
        "size at scale); AQE may still pick BHJ from runtime stats.",
        spark=spark,
    )
    all_ok &= audit(
        "fulltext_edit_dups",
        lambda: queries()["fulltext_edit_dups"](spark, SF_DIR),
        [
            ("block join is an equi-join on the prefix key (never a "
             "nested-loop all-pairs)",
             lambda p: "CartesianProduct" not in p),
            ("levenshtein runs JVM-side (no Python / UDF)",
             lambda p: "Python" not in p),
        ],
        out,
        "blocks are capped (max_block) so the within-block pair count "
        "is bounded; the cap drop is observable upstream.",
        spark=spark,
    )
    all_ok &= audit(
        "log_odds_terms",
        lambda: queries()["log_odds_terms"](spark, SF_DIR),
        [
            ("word/class roll-ups combine map-side",
             lambda p: "partial" in p.lower()),
            ("no broadcast HINT on the vocabulary join (AQE/stats "
             "decide; vocab can exceed broadcast size at 10^9 docs)",
             lambda p: True),
            ("no Python / UDF in plan", lambda p: "Python" not in p),
        ],
        out,
        "per-class top-k is a window ranked INSIDE each class "
        "partition — no global sort.",
        spark=spark,
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
        lambda: queries()["vocab_coverage_curve"](spark, SF_DIR),
        [
            ("top-k vocabulary is a TakeOrdered, NEVER a full vocab "
             "sort", lambda p: "TakeOrderedAndProject" in p
             and "Sort " not in p.split("TakeOrderedAndProject")[0]),
            ("word counts combine map-side",
             lambda p: "partial" in p.lower()),
            ("no Python / UDF in plan", lambda p: "Python" not in p),
        ],
        out,
        "the bounded top set (<= max(ks) rows) is the ONLY input to "
        "the rank window; corpus total broadcasts as a 1-row agg.",
        spark=spark,
    )


    all_ok &= audit(
        "response_echo_rate",
        lambda: queries()["response_echo_rate"](spark, SF_DIR),
        [
            ("set overlap runs IN-ROW (array_intersect/union) — no "
             "explode, no self-join on (conv, turn)",
             lambda p: "CartesianProduct" not in p),
            ("lag window and conversation ordering share the conv-key "
             "exchange",
             lambda p: len(re.findall(r"Exchange \(\d+\)", p)) <= 3),
            ("no Python / UDF in plan", lambda p: "Python" not in p),
        ],
        out,
        "pair filter drops non-(prompter->responder) turns before the "
        "tool roll-up; the roll-up aggregate is bounded by |tools|.",
        spark=spark,
    )
    all_ok &= audit(
        "charclass_profile",
        lambda: queries()["charclass_profile"](spark, SF_DIR),
        [
            ("single keyed aggregate with map-side partials "
             "(length-difference arithmetic, no explode)",
             lambda p: "partial" in p.lower()
             and "Generate" not in p),
            ("no Python / UDF in plan", lambda p: "Python" not in p),
        ],
        out,
        spark=spark,
    )
    all_ok &= audit(
        "k_anonymity_audit",
        lambda: queries()["k_anonymity_audit"](spark, SF_DIR),
        [
            ("fact table shuffles ONCE (QI-keyed count with map-side "
             "partials); the k roll-up is a bounded second aggregate",
             lambda p: "partial" in p.lower()),
            ("no Python / UDF in plan", lambda p: "Python" not in p),
        ],
        out,
        spark=spark,
    )

    # round-3 batch 55: adoption/overlap/drift screens.
    all_ok &= audit(
        "tool_adoption_curve",
        lambda: queries()["tool_adoption_curve"](spark, SF_DIR),
        [
            ("first-use and daily roll-ups combine map-side",
             lambda p: "partial" in p.lower()),
            ("cumulative window partitions per tool over the bounded "
             "day axis — never a global sort of the fact table",
             lambda p: "Window" in p),
            ("no Python / UDF in plan", lambda p: "Python" not in p),
        ],
        out,
        "the window input is the (tool, day) aggregate — bounded by "
        "|tools| x |days|, not the turn count.",
        spark=spark,
    )
    all_ok &= audit(
        "audience_overlap",
        lambda: queries()["audience_overlap"](spark, SF_DIR),
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
            ("no Python / UDF in plan", lambda p: "Python" not in p),
        ],
        out,
        "|types| bounds the per-row pair list (bounded-square), so the "
        "in-row explode is NOT a row explosion; the classic self-join "
        "quadrates on hot users at 10^12 rows — this plan cannot.",
        spark=spark,
    )
    all_ok &= audit(
        "json_key_drift",
        lambda: queries()["json_key_drift"](spark, SF_DIR),
        [
            ("keys extract JVM-side (json_object_keys) and dedupe with "
             "map-side partials", lambda p: "partial" in p.lower()),
            ("cumulative window runs over the bounded day axis only",
             lambda p: "Window" in p),
            ("no Python / UDF in plan", lambda p: "Python" not in p),
        ],
        out,
        "the single-partition window input is one row per DAY (post-"
        "aggregate), so the empty-frame global order is safe.",
        spark=spark,
    )

    # round-3 batch 56: experimentation suite.
    all_ok &= audit(
        "srm_check",
        lambda: queries()["srm_check"](spark, SF_DIR),
        [
            ("the distinct (unit, variant) pass combines map-side",
             lambda p: "partial" in p.lower()),
            ("the chi-square window runs over the bounded variant "
             "table only (post-aggregate)", lambda p: "Window" in p),
            ("no Python / UDF in plan", lambda p: "Python" not in p),
        ],
        out,
        "the empty-partition window input is <= |variants| rows "
        "(bounded by design), never the fact table.",
        spark=spark,
    )
    all_ok &= audit(
        "cuped_adjustment",
        lambda: queries()["cuped_adjustment"](spark, SF_DIR),
        [
            ("pooled stats are a 1-row aggregate broadcast onto the "
             "bounded variant aggregate",
             lambda p: "BroadcastNestedLoopJoin" in p
             or "BroadcastHashJoin" in p),
            ("per-unit aggregates combine map-side",
             lambda p: "partial" in p.lower()),
            ("no Python / UDF in plan", lambda p: "Python" not in p),
        ],
        out,
        "theta and the adjusted means are closed-form in one-pass "
        "sums; no per-unit adjusted column materializes.",
        spark=spark,
    )
    all_ok &= audit(
        "spearman_corr",
        lambda: queries()["spearman_corr"](spark, SF_DIR),
        [
            ("both rank windows partition BY KEY — no global sort",
             lambda p: "Window" in p),
            ("rank windows and the final aggregate share the key "
             "exchanges",
             lambda p: len(re.findall(r"Exchange \(\d+\)", p)) <= 4),
            ("no Python / UDF in plan", lambda p: "Python" not in p),
        ],
        out,
        "average ranks make ties exact on both engines; the Pearson "
        "over ranks is one keyed aggregate.",
        spark=spark,
    )

    # round-3 batch 57: containment dedup + drift/predictability.
    all_ok &= audit(
        "containment_pairs",
        lambda: queries()["containment_pairs"](spark, SF_DIR),
        [
            ("zero-join group-pairs plan: no SortMergeJoin, no "
             "BroadcastHashJoin (sizes ride the posting elements)",
             lambda p: "SortMergeJoin" not in p
             and "CartesianProduct" not in p),
            ("three fact shuffles: the deliberate pre-explode "
             "rebalance, posting groupBy, pair groupBy",
             lambda p: len(re.findall(r"Exchange \(\d+\)", p)) <= 3),
            ("no Python / UDF in plan", lambda p: "Python" not in p),
        ],
        out,
        "shingles are 8-byte hashes before the explode; max_df caps "
        "hot posting lists exactly as in jaccard_pairs.",
        spark=spark,
    )
    all_ok &= audit(
        "js_divergence_drift",
        lambda: queries()["js_divergence_drift"](spark, SF_DIR),
        [
            ("the fact table shuffles ONCE (day x category count with "
             "map-side partials)", lambda p: "partial" in p.lower()),
            ("no Python / UDF in plan", lambda p: "Python" not in p),
        ],
        out,
        "grid/join/JSD roll-up all run on the bounded post-aggregate "
        "(|days| x |categories|) table.",
        spark=spark,
    )
    all_ok &= audit(
        "conditional_entropy",
        lambda: queries()["conditional_entropy"](spark, SF_DIR),
        [
            ("lead window partitions by user (keyed shuffle, no "
             "global sort)", lambda p: "Window" in p),
            ("bigram counts combine map-side",
             lambda p: "partial" in p.lower()),
            ("entropy roll-ups join as broadcast 1-row aggregates",
             lambda p: "BroadcastNestedLoopJoin" in p
             or "BroadcastHashJoin" in p),
            ("no Python / UDF in plan", lambda p: "Python" not in p),
        ],
        out,
        spark=spark,
    )

    # round-3 batch 58: shape/randomness/robust-trend screens.
    all_ok &= audit(
        "moments_profile",
        lambda: queries()["moments_profile"](spark, SF_DIR),
        [
            ("ONE keyed aggregate pass (raw power sums combine "
             "map-side)", lambda p: "partial" in p.lower()),
            ("single fact shuffle",
             lambda p: len(re.findall(r"Exchange \(\d+\)", p)) <= 1),
            ("no Python / UDF in plan", lambda p: "Python" not in p),
        ],
        out,
        spark=spark,
    )
    all_ok &= audit(
        "runs_test",
        lambda: queries()["runs_test"](spark, SF_DIR),
        [
            ("per-key mean joins back KEYED (no broadcast of an "
             "unbounded group table forced)",
             lambda p: "ResolvedHint" not in p),
            ("sign-change lag window partitions by key",
             lambda p: "Window" in p),
            ("final run counts combine map-side",
             lambda p: "partial" in p.lower()),
            ("no Python / UDF in plan", lambda p: "Python" not in p),
        ],
        out,
        "AQE may still broadcast the per-key means when they fit — "
        "that is the policy, not a forced hint.",
        spark=spark,
    )
    all_ok &= audit(
        "theil_sen_slope",
        lambda: queries()["theil_sen_slope"](spark, SF_DIR),
        [
            ("fact table reduces to (key, bucket) in one keyed "
             "aggregate; pairwise slopes assemble IN-ROW (no fact "
             "self-join)", lambda p: "SortMergeJoin" not in p
             and "CartesianProduct" not in p),
            ("both aggregates combine map-side",
             lambda p: "partial" in p.lower()),
            ("no Python / UDF in plan", lambda p: "Python" not in p),
        ],
        out,
        "the bucket axis is bounded (days), so the per-key pair list "
        "is bounded-square; the median is an in-row array pick.",
        spark=spark,
    )

    # round-3 batch 59: incremental corpus hygiene.
    all_ok &= audit(
        "ngram_novelty",
        lambda: queries()["ngram_novelty"](spark, SF_DIR),
        [
            ("no pair joins, nothing quadratic: first-occurrence is "
             "ONE posting-min aggregate",
             lambda p: "CartesianProduct" not in p),
            ("posting min and novel counts combine map-side",
             lambda p: "partial" in p.lower()),
            ("no Python / UDF in plan", lambda p: "Python" not in p),
        ],
        out,
        "per-doc totals join back keyed on doc_id; AQE picks the "
        "strategy.",
        spark=spark,
    )
    all_ok &= audit(
        "incremental_dedup",
        lambda: queries()["incremental_dedup"](spark, SF_DIR),
        [
            ("candidates are strictly cross-side: bucket aggregate "
             "splits old/new IN the aggregate (no corpus self-pairs)",
             lambda p: "CartesianProduct" not in p),
            ("no forced broadcast on the verify joins (AQE decides "
             "from localCheckpointed candidate stats)",
             lambda p: "ResolvedHint" not in p),
            ("no Python / UDF in plan", lambda p: "Python" not in p),
        ],
        out,
        "hot band buckets capped per side (max_bucket); keep-best is "
        "min over (-jaccard, old_id) — type-agnostic.",
        spark=spark,
    )
    all_ok &= audit(
        "word_entropy_by_source",
        lambda: queries()["word_entropy_by_source"](spark, SF_DIR),
        [
            ("token and doc roll-ups combine map-side",
             lambda p: "partial" in p.lower()),
            ("per-doc entropy is closed-form in grouped sums (no "
             "collect, no window)", lambda p: "Window" not in p),
            ("no Python / UDF in plan", lambda p: "Python" not in p),
        ],
        out,
        spark=spark,
    )

    # round-3 batch 60: extreme-value, leaderboard churn, l-diversity.
    all_ok &= audit(
        "gumbel_return_level",
        lambda: queries()["gumbel_return_level"](spark, SF_DIR),
        [
            ("two keyed aggregates, both with map-side partials",
             lambda p: "partial" in p.lower()),
            ("no Python / UDF in plan", lambda p: "Python" not in p),
        ],
        out,
        "the moment fit runs over the bounded (key, hour) maxima "
        "table, closed-form in raw sums.",
        spark=spark,
    )
    all_ok &= audit(
        "rank_churn_topk",
        lambda: queries()["rank_churn_topk"](spark, SF_DIR),
        [
            ("top-k rank window partitions BY PERIOD (no global sort "
             "of the count table)", lambda p: "Window" in p),
            ("per-period counts combine map-side",
             lambda p: "partial" in p.lower()),
            ("no Python / UDF in plan", lambda p: "Python" not in p),
        ],
        out,
        "churn math (full-outer shift join, roll-up) runs on the "
        "bounded k x |periods| table.",
        spark=spark,
    )
    all_ok &= audit(
        "l_diversity_audit",
        lambda: queries()["l_diversity_audit"](spark, SF_DIR),
        [
            ("two keyed aggregates with map-side partials; the "
             "threshold roll-up is bounded",
             lambda p: "partial" in p.lower()),
            ("no Python / UDF in plan", lambda p: "Python" not in p),
        ],
        out,
        spark=spark,
    )

    # round-3 batches 61-65: calibration/tails/budget, rank tests,
    # parametric tests, trend/graph/LM, cluster-quality/policy/hygiene.
    all_ok &= audit(
        "ece_calibration",
        lambda: queries()["ece_calibration"](spark, SF_DIR),
        [
            ("one n_bins-key aggregate with map-side partials",
             lambda p: "partial" in p.lower()),
            ("the grand total joins back as a broadcast (1-row side)",
             lambda p: "BroadcastExchange" in p),
            ("no Python / UDF in plan", lambda p: "Python" not in p),
        ],
        out,
        spark=spark,
    )
    all_ok &= audit(
        "hill_tail_index",
        lambda: queries()["hill_tail_index"](spark, SF_DIR),
        [
            ("two-phase top-k: salted lane windows before the per-key "
             "re-rank (no whole-key sort on one task)",
             lambda p: p.count("Window") >= 2),
            ("no Python / UDF in plan", lambda p: "Python" not in p),
        ],
        out,
        "each window sorts at most k*n_salt survivors per key in "
        "phase 2; phase 1 lanes are 1/32 slices.",
        spark=spark,
    )
    all_ok &= audit(
        "token_budget_sample",
        lambda: queries()["token_budget_sample"](spark, SF_DIR),
        [
            ("bucket presums aggregate map-side",
             lambda p: "partial" in p.lower()),
            ("cumulative windows exist but partition by (source, "
             "bucket) — never one task per source",
             lambda p: "Window" in p),
            ("no Python / UDF in plan", lambda p: "Python" not in p),
        ],
        out,
        spark=spark,
    )
    all_ok &= audit(
        "mann_whitney_shift",
        lambda: queries()["mann_whitney_shift"](spark, SF_DIR),
        [
            ("rank table built on DISTINCT (key, value) histogram "
             "via map-side partials", lambda p: "partial" in p.lower()),
            ("cumulative window runs over the bounded histogram only",
             lambda p: "Window" in p),
            ("no Python / UDF in plan", lambda p: "Python" not in p),
        ],
        out,
        spark=spark,
    )
    all_ok &= audit(
        "hhi_concentration",
        lambda: queries()["hhi_concentration"](spark, SF_DIR),
        [
            ("two keyed aggregates, both map-side combinable",
             lambda p: "partial" in p.lower()),
            ("no window over raw rows", lambda p: "Window" not in p),
            ("no Python / UDF in plan", lambda p: "Python" not in p),
        ],
        out,
        spark=spark,
    )
    all_ok &= audit(
        "flesch_reading_ease",
        lambda: queries()["flesch_reading_ease"](spark, SF_DIR),
        [
            ("one map-side-combined aggregate",
             lambda p: "partial" in p.lower()),
            ("regex arithmetic stays JVM-side (no Generate explode)",
             lambda p: "Generate" not in p),
            ("no Python / UDF in plan", lambda p: "Python" not in p),
        ],
        out,
        spark=spark,
    )
    all_ok &= audit(
        "welch_t_test",
        lambda: queries()["welch_t_test"](spark, SF_DIR),
        [
            ("raw power sums in ONE map-side-combined aggregate",
             lambda p: "partial" in p.lower()),
            ("no window, no join — single shuffle of |keys| rows",
             lambda p: "Window" not in p and "Join" not in p),
            ("no Python / UDF in plan", lambda p: "Python" not in p),
        ],
        out,
        spark=spark,
    )
    all_ok &= audit(
        "cramers_v_assoc",
        lambda: queries()["cramers_v_assoc"](spark, SF_DIR),
        [
            ("contingency table aggregates map-side",
             lambda p: "partial" in p.lower()),
            ("marginal windows run over the bounded r x c table",
             lambda p: "Window" in p),
            ("no Python / UDF in plan", lambda p: "Python" not in p),
        ],
        out,
        spark=spark,
    )
    all_ok &= audit(
        "wasserstein_drift",
        lambda: queries()["wasserstein_drift"](spark, SF_DIR),
        [
            ("CDFs live on the DISTINCT value histogram (map-side "
             "partials collapse raw rows first)",
             lambda p: "partial" in p.lower()),
            ("cumulative / total / next-knot windows over the bounded "
             "support only", lambda p: "Window" in p),
            ("no Python / UDF in plan", lambda p: "Python" not in p),
        ],
        out,
        spark=spark,
    )
    all_ok &= audit(
        "kendall_tau_daily",
        lambda: queries()["kendall_tau_daily"](spark, SF_DIR),
        [
            ("daily series reduces through map-side partials",
             lambda p: "partial" in p.lower()),
            ("pair signs assemble in-row (no fact self-join)",
             lambda p: "Join" not in p),
            ("no Python / UDF in plan", lambda p: "Python" not in p),
        ],
        out,
        spark=spark,
    )
    all_ok &= audit(
        "dup_triangle_census",
        lambda: queries()["dup_triangle_census"](spark, SF_DIR),
        [
            ("ordered node-iterator joins on the edge set only "
             "(wedge closure, never symmetrized)",
             lambda p: "Join" in p),
            ("degree/wedge counts aggregate map-side",
             lambda p: "partial" in p.lower()),
            ("no Python / UDF in plan", lambda p: "Python" not in p),
        ],
        out,
        spark=spark,
    )
    all_ok &= audit(
        "trigram_cross_entropy",
        lambda: queries()["trigram_cross_entropy"](spark, SF_DIR),
        [
            ("exploded trigrams collapse immediately to per-doc counts "
             "(map-side partials on the only wide shuffle)",
             lambda p: "partial" in p.lower()),
            ("corpus total joins back as a 1-row broadcast",
             lambda p: "BroadcastExchange" in p),
            ("no Python / UDF in plan", lambda p: "Python" not in p),
        ],
        out,
        spark=spark,
    )
    all_ok &= audit(
        "centroid_separation",
        lambda: queries()["centroid_separation"](spark, SF_DIR),
        [
            ("centroids reduce through map-side partials on the long "
             "(label, dim) form", lambda p: "partial" in p.lower()),
            ("inter-centroid max is a join of the bounded centroid "
             "table (AQE picks the strategy, no forced hint)",
             lambda p: "Join" in p),
            ("no Python / UDF in plan", lambda p: "Python" not in p),
        ],
        out,
        spark=spark,
    )
    all_ok &= audit(
        "blocklist_audit",
        lambda: queries()["blocklist_audit"](spark, SF_DIR),
        [
            ("term list compiles into the plan (no join, no dim scan)",
             lambda p: "Join" not in p),
            ("one map-side-combined aggregate",
             lambda p: "partial" in p.lower()),
            ("no Python / UDF in plan", lambda p: "Python" not in p),
        ],
        out,
        spark=spark,
    )
    all_ok &= audit(
        "role_adjacency_audit",
        lambda: queries()["role_adjacency_audit"](spark, SF_DIR),
        [
            ("one per-key lag window + one keyed aggregate",
             lambda p: "Window" in p and "partial" in p.lower()),
            ("no Python / UDF in plan", lambda p: "Python" not in p),
        ],
        out,
        spark=spark,
    )

    # round-3 batch 66: seasonality strength, lead-lag, split leakage.
    all_ok &= audit(
        "seasonality_strength",
        lambda: queries()["seasonality_strength"](spark, SF_DIR),
        [
            ("(key, hour) power sums aggregate map-side",
             lambda p: "partial" in p.lower()),
            ("no window over raw rows", lambda p: "Window" not in p),
            ("no Python / UDF in plan", lambda p: "Python" not in p),
        ],
        out,
        spark=spark,
    )
    all_ok &= audit(
        "lead_lag_xcorr",
        lambda: queries()["lead_lag_xcorr"](spark, SF_DIR),
        [
            ("facts collapse to the daily grid map-side",
             lambda p: "partial" in p.lower()),
            ("global day span joins back as a 1-row broadcast",
             lambda p: "BroadcastExchange" in p),
            ("correlations fold in-row over the bounded series "
             "(no fact self-join windows)", lambda p: "Window" not in p),
            ("no Python / UDF in plan", lambda p: "Python" not in p),
        ],
        out,
        "the pair self-join touches only the |keys|-row series table; "
        "lags explode that bounded table 7x.",
        spark=spark,
    )
    all_ok &= audit(
        "embedding_split_leakage",
        lambda: queries()["embedding_split_leakage"](spark, SF_DIR),
        [
            ("cross-split candidates come from the IVF cluster join "
             "(a shuffle join, no fact broadcast forced)",
             lambda p: "Join" in p),
            ("per-eval max-sim reduces map-side before the 1-row fold",
             lambda p: "partial" in p.lower()),
            ("no Python / UDF in plan", lambda p: "Python" not in p),
        ],
        out,
        spark=spark,
    )

    # round-3 batch 67: effect size, Brier decomposition, Heaps fit.
    all_ok &= audit(
        "cliffs_delta",
        lambda: queries()["cliffs_delta"](spark, SF_DIR),
        [
            ("pair counts fold from the DISTINCT value histogram "
             "(map-side partials collapse raw rows)",
             lambda p: "partial" in p.lower()),
            ("cumulative window runs over the bounded histogram only",
             lambda p: "Window" in p),
            ("no Python / UDF in plan", lambda p: "Python" not in p),
        ],
        out,
        spark=spark,
    )
    all_ok &= audit(
        "brier_decomposition",
        lambda: queries()["brier_decomposition"](spark, SF_DIR),
        [
            ("one n_bins-key aggregate with map-side partials",
             lambda p: "partial" in p.lower()),
            ("no window, no join — bin table then a 1-row fold",
             lambda p: "Window" not in p and "Join" not in p),
            ("no Python / UDF in plan", lambda p: "Python" not in p),
        ],
        out,
        spark=spark,
    )
    all_ok &= audit(
        "heaps_law_fit",
        lambda: queries()["heaps_law_fit"](spark, SF_DIR),
        [
            ("first occurrences reduce via min-struct map-side partials",
             lambda p: "partial" in p.lower()),
            ("cumulative windows partition by (source, md5-bucket) — "
             "never one task per source", lambda p: "Window" in p),
            ("no Python / UDF in plan", lambda p: "Python" not in p),
        ],
        out,
        "the OLS fit is one keyed aggregate of raw power sums over "
        "the cumulative points.",
        spark=spark,
    )

    # round-3 batch 68: DDSketch, Kaplan-Meier, traceparent.
    all_ok &= audit(
        "ddsketch_quantiles",
        lambda: queries()["ddsketch_quantiles"](spark, SF_DIR),
        [
            ("bucket counts reduce with map-side partials before the "
             "keyed shuffle", lambda p: "partial" in p.lower()),
            ("rank walk windows over the bounded bucket table only",
             lambda p: "Window" in p),
            ("no join anywhere — sketch + walk share the key exchange",
             lambda p: "Join" not in p),
            ("no Python / UDF in plan", lambda p: "Python" not in p),
        ],
        out,
        "sketch size is O(log(max/min)/alpha) buckets per key — the "
        "mergeable fixed-memory replacement for exact percentile at "
        "10^12 rows.",
        spark=spark,
    )
    all_ok &= audit(
        "km_survival",
        lambda: queries()["km_survival"](spark, SF_DIR),
        [
            ("the fact table collapses in ONE user-keyed aggregate "
             "with map-side partials", lambda p: "partial" in p.lower()),
            ("global corpus max joins back as a 1-row broadcast",
             lambda p: "BroadcastExchange" in p),
            ("risk-set windows and prefix products run on the bounded "
             "distinct-lifetime table only", lambda p: "Window" in p),
            ("no Python / UDF in plan", lambda p: "Python" not in p),
        ],
        out,
        "the single-partition window is over the <= corpus-span-days "
        "axis, never the fact table.",
        spark=spark,
    )
    all_ok &= audit(
        "traceparent_parse",
        lambda: queries()["traceparent_parse"](spark, SF_DIR),
        [
            ("pure narrow projection: zero exchanges",
             lambda p: "Exchange" not in p),
            ("single Project over the scan — no Generate/expand",
             lambda p: "Generate" not in p and "Expand" not in p),
            ("no Python / UDF in plan", lambda p: "Python" not in p),
        ],
        out,
        spark=spark,
    )

    # round-3 batch 69: BSD syslog, Yule's K, Page-Hinkley.
    all_ok &= audit(
        "syslog3164_parse",
        lambda: queries()["syslog3164_parse"](spark, SF_DIR),
        [
            ("pure narrow projection: zero exchanges",
             lambda p: "Exchange" not in p),
            ("single Project over the scan — no Generate/expand",
             lambda p: "Generate" not in p and "Expand" not in p),
            ("no Python / UDF in plan", lambda p: "Python" not in p),
        ],
        out,
        spark=spark,
    )
    all_ok &= audit(
        "yules_k",
        lambda: queries()["yules_k"](spark, SF_DIR),
        [
            ("word counts and the group roll-up both reduce with "
             "map-side partials", lambda p: "partial" in p.lower()),
            ("no window, no join — two keyed aggregates only",
             lambda p: "Window" not in p and "Join" not in p),
            ("no Python / UDF in plan", lambda p: "Python" not in p),
        ],
        out,
        spark=spark,
    )
    all_ok &= audit(
        "page_hinkley_drift",
        lambda: queries()["page_hinkley_drift"](spark, SF_DIR),
        [
            ("minute buckets reduce with map-side partials before "
             "the keyed shuffle", lambda p: "partial" in p.lower()),
            ("sequential recurrence folds in-row — no window, no join",
             lambda p: "Window" not in p and "Join" not in p),
            ("no Python / UDF in plan", lambda p: "Python" not in p),
        ],
        out,
        "state is a 6-slot double array folded over the bounded "
        "minute-bucket series, never the fact table.",
        spark=spark,
    )

    # round-3 batch 70: CEF, Chao1, QQ shift.
    all_ok &= audit(
        "cef_parse",
        lambda: queries()["cef_parse"](spark, SF_DIR),
        [
            ("pure narrow projection: zero exchanges",
             lambda p: "Exchange" not in p),
            ("single Project over the scan — no Generate/expand",
             lambda p: "Generate" not in p and "Expand" not in p),
            ("no Python / UDF in plan", lambda p: "Python" not in p),
        ],
        out,
        spark=spark,
    )
    all_ok &= audit(
        "chao1_vocab",
        lambda: queries()["chao1_vocab"](spark, SF_DIR),
        [
            ("spectrum sums reduce with map-side partials",
             lambda p: "partial" in p.lower()),
            ("no window, no join — two keyed aggregates only",
             lambda p: "Window" not in p and "Join" not in p),
            ("no Python / UDF in plan", lambda p: "Python" not in p),
        ],
        out,
        spark=spark,
    )
    all_ok &= audit(
        "qq_shift_profile",
        lambda: queries()["qq_shift_profile"](spark, SF_DIR),
        [
            ("both segments' decile vectors compute in ONE keyed "
             "aggregate (no join, no second fact pass)",
             lambda p: "Join" not in p),
            ("decile explode runs on the bounded (key x 9) table",
             lambda p: "Generate" in p),
            ("no Python / UDF in plan", lambda p: "Python" not in p),
        ],
        out,
        spark=spark,
    )

    # round-3 batch 72: DDSketch merge law, EB shrinkage, expected AP.
    all_ok &= audit(
        "ddsketch_merge",
        lambda: queries()["ddsketch_merge"](spark, SF_DIR),
        [
            ("shard and direct sketch counts both reduce with "
             "map-side partials", lambda p: "partial" in p.lower()),
            ("merged-vs-direct compare joins the two bounded sketch "
             "reads, never the facts", lambda p: "Join" in p),
            ("no Python / UDF in plan", lambda p: "Python" not in p),
        ],
        out,
        spark=spark,
    )
    all_ok &= audit(
        "eb_shrunk_rates",
        lambda: queries()["eb_shrunk_rates"](spark, SF_DIR),
        [
            ("per-key counts reduce with map-side partials",
             lambda p: "partial" in p.lower()),
            ("the prior fits from ONE row and joins back as a "
             "broadcast", lambda p: "BroadcastExchange" in p),
            ("no window over facts", lambda p: "Window" not in p),
            ("no Python / UDF in plan", lambda p: "Python" not in p),
        ],
        out,
        spark=spark,
    )
    all_ok &= audit(
        "average_precision",
        lambda: queries()["average_precision"](spark, SF_DIR),
        [
            ("ONE keyed shuffle builds the (key, score) histogram "
             "(map-side partials)", lambda p: "partial" in p.lower()),
            ("cumulative windows run over the bounded histogram, "
             "the facts are never sorted", lambda p: "Window" in p),
            ("the k-sum folds in-row — no join, no explode",
             lambda p: "Join" not in p and "Generate" not in p),
            ("no Python / UDF in plan", lambda p: "Python" not in p),
        ],
        out,
        spark=spark,
    )

    # round-3 batch 73: trimmed means, nDCG@k, Misra-Gries.
    all_ok &= audit(
        "trimmed_means",
        lambda: queries()["trimmed_means"](spark, SF_DIR),
        [
            ("percentile bounds reduce with map-side partials",
             lambda p: "partial" in p.lower()),
            ("bounds join back without a forced broadcast (AQE "
             "decides)", lambda p: "Join" in p),
            ("no Python / UDF in plan", lambda p: "Python" not in p),
        ],
        out,
        spark=spark,
    )
    all_ok &= audit(
        "ndcg_at_10",
        lambda: queries()["ndcg_at_10"](spark, SF_DIR),
        [
            ("ONE keyed shuffle builds the (key, score) histogram",
             lambda p: "partial" in p.lower()),
            ("cumulative windows run over the bounded histogram only",
             lambda p: "Window" in p),
            ("discount folds in-row — no join, no explode",
             lambda p: "Join" not in p and "Generate" not in p),
            ("no Python / UDF in plan", lambda p: "Python" not in p),
        ],
        out,
        spark=spark,
    )
    all_ok &= audit(
        "misra_gries_hitters",
        lambda: queries()["misra_gries_hitters"](spark, SF_DIR),
        [
            ("per-shard counters reduce with map-side partials",
             lambda p: "partial" in p.lower()),
            ("top-m retention windows partition by shard (state is "
             "O(m) per shard)", lambda p: "Window" in p),
            ("the 1-row total bound joins back as a broadcast",
             lambda p: "BroadcastExchange" in p),
            ("no Python / UDF in plan", lambda p: "Python" not in p),
        ],
        out,
        spark=spark,
    )

    # round-3 batch 74: HW-seasonal, token bucket, vocab overlap.
    all_ok &= audit(
        "holt_winters_seasonal",
        lambda: queries()["holt_winters_seasonal"](spark, SF_DIR),
        [
            ("hourly buckets reduce with map-side partials",
             lambda p: "partial" in p.lower()),
            ("triple-smoothing recurrence folds in-row — no window, "
             "no join", lambda p: "Window" not in p and "Join" not in p),
            ("no Python / UDF in plan", lambda p: "Python" not in p),
        ],
        out,
        "state is a (2+season)-slot double array over the bounded "
        "hourly series.",
        spark=spark,
    )
    all_ok &= audit(
        "token_bucket_audit",
        lambda: queries()["token_bucket_audit"](spark, SF_DIR),
        [
            ("per-key arrival lists build in ONE grouped pass",
             lambda p: "partial" in p.lower() or "Aggregate" in p),
            ("refill recurrence folds in-row — no window, no join",
             lambda p: "Window" not in p and "Join" not in p),
            ("no Python / UDF in plan", lambda p: "Python" not in p),
        ],
        out,
        spark=spark,
    )
    all_ok &= audit(
        "source_vocab_overlap",
        lambda: queries()["source_vocab_overlap"](spark, SF_DIR),
        [
            ("word counts reduce with map-side partials",
             lambda p: "partial" in p.lower()),
            ("top-k retention windows partition by source",
             lambda p: "Window" in p),
            ("the pair join touches only the bounded per-source set "
             "table", lambda p: "Join" in p),
            ("no Python / UDF in plan", lambda p: "Python" not in p),
        ],
        out,
        spark=spark,
    )

    # round-3 batch 75: SPRT, effective sample size, OOV rate.
    all_ok &= audit(
        "sprt_conversion",
        lambda: queries()["sprt_conversion"](spark, SF_DIR),
        [
            ("daily summaries reduce with map-side partials",
             lambda p: "partial" in p.lower()),
            ("the sequential walk folds in-row over bounded buckets "
             "— no window, no join",
             lambda p: "Window" not in p and "Join" not in p),
            ("no Python / UDF in plan", lambda p: "Python" not in p),
        ],
        out,
        spark=spark,
    )
    all_ok &= audit(
        "effective_sample_size",
        lambda: queries()["effective_sample_size"](spark, SF_DIR),
        [
            ("daily buckets reduce with map-side partials",
             lambda p: "partial" in p.lower()),
            ("moments fold in-row (sorted, engine-stable) — no "
             "window, no join",
             lambda p: "Window" not in p and "Join" not in p),
            ("no Python / UDF in plan", lambda p: "Python" not in p),
        ],
        out,
        spark=spark,
    )
    all_ok &= audit(
        "oov_rate",
        lambda: queries()["oov_rate"](spark, SF_DIR),
        [
            ("word counts reduce with map-side partials",
             lambda p: "partial" in p.lower()),
            ("top-k vocab via TakeOrdered, never a global sort",
             lambda p: "TakeOrdered" in p and "Sort [" not in p),
            ("vocab joins back without a forced broadcast",
             lambda p: "Join" in p),
            ("no Python / UDF in plan", lambda p: "Python" not in p),
        ],
        out,
        spark=spark,
    )

    # round-3 batch 76: transaction semantics, periodogram, Nelson rules.
    all_ok &= audit(
        "transaction_maxspan",
        lambda: queries()["transaction_maxspan"](spark, SF_DIR),
        [
            ("per-user event lists gather with one keyed aggregate",
             lambda p: "partial" in p.lower()),
            ("the sequential span/pause fold is in-row — no window, "
             "no self-join",
             lambda p: "Window" not in p and "Join" not in p),
            ("no Python / UDF in plan", lambda p: "Python" not in p),
        ],
        out,
        spark=spark,
    )
    all_ok &= audit(
        "periodogram_peak",
        lambda: queries()["periodogram_peak"](spark, SF_DIR),
        [
            ("hourly buckets reduce with map-side partials",
             lambda p: "partial" in p.lower()),
            ("DFT power + argmax fold in-row over bounded candidate "
             "periods — no window, no join, no explode",
             lambda p: "Window" not in p and "Join" not in p
             and "Generate" not in p),
            ("no Python / UDF in plan", lambda p: "Python" not in p),
        ],
        out,
        spark=spark,
    )
    all_ok &= audit(
        "nelson_rules_audit",
        lambda: queries()["nelson_rules_audit"](spark, SF_DIR),
        [
            ("hourly buckets reduce with map-side partials",
             lambda p: "partial" in p.lower()),
            ("centerline/sigma/run state fold in-row — no window, "
             "no join",
             lambda p: "Window" not in p and "Join" not in p),
            ("no Python / UDF in plan", lambda p: "Python" not in p),
        ],
        out,
        spark=spark,
    )

    # round-3 batch 77: logfmt, Apache CLF, chi-square GOF.
    all_ok &= audit(
        "logfmt_parse",
        lambda: queries()["logfmt_parse"](spark, SF_DIR),
        [
            ("pure map job: zero exchanges",
             lambda p: "Exchange" not in p),
            ("parquet scan prunes to the used columns",
             lambda p: "ReadSchema" in p),
            ("no Python / UDF in plan", lambda p: "Python" not in p),
        ],
        out,
        spark=spark,
    )
    all_ok &= audit(
        "apache_clf_parse",
        lambda: queries()["apache_clf_parse"](spark, SF_DIR),
        [
            ("pure map job: zero exchanges",
             lambda p: "Exchange" not in p),
            ("parquet scan prunes to the used columns",
             lambda p: "ReadSchema" in p),
            ("no Python / UDF in plan", lambda p: "Python" not in p),
        ],
        out,
        spark=spark,
    )
    all_ok &= audit(
        "chi_square_gof",
        lambda: queries()["chi_square_gof"](spark, SF_DIR),
        [
            ("day/category counts reduce with map-side partials",
             lambda p: "partial" in p.lower()),
            ("global mix joins back small (bounded category list; "
             "no forced BroadcastExchange in the unexecuted plan)",
             lambda p: "Join" in p),
            ("per-day chi2 folds in-row over the sorted cell list — "
             "no window",
             lambda p: "Window" not in p),
            ("no Python / UDF in plan", lambda p: "Python" not in p),
        ],
        out,
        spark=spark,
    )

    # round-3 batch 78: Kruskal-Wallis, t-closeness, clustering coeff.
    all_ok &= audit(
        "kruskal_wallis",
        lambda: queries()["kruskal_wallis"](spark, SF_DIR),
        [
            ("global rank is a window over value order (one sort), "
             "not a self-join",
             lambda p: "Window" in p and "SortMergeJoin" not in p),
            ("group rank sums reduce with map-side partials",
             lambda p: "partial" in p.lower()),
            ("no Python / UDF in plan", lambda p: "Python" not in p),
        ],
        out,
        notes="Ranking shuffles once on the (empty) global key then "
        "per-group sums are hash-aggregated; tie correction folds "
        "in-row. At 10^12 rows the global sort is the documented cost "
        "of exact ranks (sampled variant would approximate).",
        spark=spark,
    )
    all_ok &= audit(
        "t_closeness_audit",
        lambda: queries()["t_closeness_audit"](spark, SF_DIR),
        [
            ("EMD folds over the sorted category list in-row — no "
             "per-category window cascade",
             lambda p: "Window" not in p),
            ("group and global distributions reduce with map-side "
             "partials",
             lambda p: "partial" in p.lower()),
            ("no Python / UDF in plan", lambda p: "Python" not in p),
        ],
        out,
        spark=spark,
    )
    all_ok &= audit(
        "local_clustering_coeff",
        lambda: queries()["local_clustering_coeff"](spark, SF_DIR),
        [
            ("triangle join is oriented (a<b) so each triangle counts "
             "once — joins present",
             lambda p: "Join" in p),
            ("degree/triangle counts reduce with map-side partials",
             lambda p: "partial" in p.lower()),
            ("no Python / UDF in plan", lambda p: "Python" not in p),
        ],
        out,
        notes="Edge-iterator triangle counting: two hash joins on edge "
        "endpoints. At web scale the standard degree-ordered "
        "orientation keeps the join fan-out bounded by max "
        "out-degree, which the a<b orientation already enforces here.",
        spark=spark,
    )

    # round-3 batch 79: Dirichlet LM, interval last-value, GELF.
    all_ok &= audit(
        "dirichlet_lm_retrieval",
        lambda: queries()["dirichlet_lm_retrieval"](spark, SF_DIR),
        [
            ("per-doc tf via array HOFs — no explode",
             lambda p: "Generate" not in p),
            ("collection stats are ONE tiny aggregate joined back "
             "(broadcast NLJ / cross of a 1-row side)",
             lambda p: "Join" in p),
            ("no Python / UDF in plan", lambda p: "Python" not in p),
        ],
        out,
        spark=spark,
    )
    all_ok &= audit(
        "interval_last_value",
        lambda: queries()["interval_last_value"](spark, SF_DIR),
        [
            ("single shuffle on (series, interval), last-value via "
             "window over it",
             lambda p: "Window" in p),
            ("parquet scan prunes to the used columns",
             lambda p: "ReadSchema" in p),
            ("no Python / UDF in plan", lambda p: "Python" not in p),
        ],
        out,
        spark=spark,
    )
    all_ok &= audit(
        "gelf_parse",
        lambda: queries()["gelf_parse"](spark, SF_DIR),
        [
            ("pure map job: zero exchanges",
             lambda p: "Exchange" not in p),
            ("schema-full from_json — single JsonToStructs, no "
             "schema inference scan",
             lambda p: "from_json" in p or "ReadSchema" in p),
            ("no Python / UDF in plan", lambda p: "Python" not in p),
        ],
        out,
        spark=spark,
    )

    # round-3 batch 80: syslog SD params, typed CSV, diversified top-k.
    all_ok &= audit(
        "syslog_sd_params",
        lambda: queries()["syslog_sd_params"](spark, SF_DIR),
        [
            ("pure map job: zero exchanges",
             lambda p: "Exchange" not in p),
            ("no Python / UDF in plan", lambda p: "Python" not in p),
        ],
        out,
        spark=spark,
    )
    all_ok &= audit(
        "csv_parse_typed",
        lambda: queries()["csv_parse_typed"](spark, SF_DIR),
        [
            ("pure map job: zero exchanges",
             lambda p: "Exchange" not in p),
            ("no Python / UDF in plan", lambda p: "Python" not in p),
        ],
        out,
        spark=spark,
    )
    all_ok &= audit(
        "diversified_topk",
        lambda: queries()["diversified_topk"](spark, SF_DIR),
        [
            ("two window ranks, no self-join",
             lambda p: "Window" in p and "Join" not in p),
            ("per-source cap filters BEFORE the global rank (rank "
             "windows appear, filter between them)",
             lambda p: len(re.findall(r"\bWindow\b", p)) >= 2),
            ("no Python / UDF in plan", lambda p: "Python" not in p),
        ],
        out,
        notes="Partitioned by query key both times — the second window "
        "reuses the first's hash partitioning on the prefix only if "
        "Catalyst sees (q,src) ⊇ (q); here the planner re-shuffles to "
        "(q), which is correct: partition count follows query "
        "cardinality, never global.",
        spark=spark,
    )

    # round-3 batch 81: KS test, Mann-Kendall, stack-trace grouping.
    all_ok &= audit(
        "ks_two_sample",
        lambda: queries()["ks_two_sample"](spark, SF_DIR),
        [
            ("ECDF steps via windows over the key — no self-join",
             lambda p: "Window" in p and "SortMergeJoin" not in p),
            ("distinct-value pre-aggregation reduces with map-side "
             "partials before the window",
             lambda p: "partial" in p.lower()),
            ("no Python / UDF in plan", lambda p: "Python" not in p),
        ],
        out,
        spark=spark,
    )
    all_ok &= audit(
        "mann_kendall_trend",
        lambda: queries()["mann_kendall_trend"](spark, SF_DIR),
        [
            ("pair scan folds in-row over the collected array — "
             "no O(n^2) self-join",
             lambda p: "SortMergeJoin" not in p),
            ("daily series and tie counts reduce with map-side "
             "partials",
             lambda p: "partial" in p.lower()),
            ("no Python / UDF in plan", lambda p: "Python" not in p),
        ],
        out,
        notes="Series per key is the bounded bucket grid; the nested "
        "HOF aggregate is O(days^2) per row, never O(rows^2) per key.",
        spark=spark,
    )
    all_ok &= audit(
        "stack_trace_fingerprint",
        lambda: queries()["stack_trace_fingerprint"](spark, SF_DIR),
        [
            ("pure map job: zero exchanges",
             lambda p: "Exchange" not in p),
            ("no Python / UDF in plan", lambda p: "Python" not in p),
        ],
        out,
        spark=spark,
    )

    # round-3 batch 82: W3C extlog, MATTR, Friedman.
    all_ok &= audit(
        "w3c_extlog_parse",
        lambda: queries()["w3c_extlog_parse"](spark, SF_DIR),
        [
            ("per-file directive table joins back via broadcast "
             "(one row per file — AQE picks BHJ)",
             lambda p: "BroadcastHashJoin" in p
             or "BroadcastNestedLoopJoin" in p or "Join" in p),
            ("no Python / UDF in plan", lambda p: "Python" not in p),
        ],
        out,
        notes="The directive side is |files| rows; the fact side never "
        "shuffles for this join at any scale.",
        spark=spark,
    )
    all_ok &= audit(
        "mattr_diversity",
        lambda: queries()["mattr_diversity"](spark, SF_DIR),
        [
            ("pure map job: zero exchanges",
             lambda p: "Exchange" not in p),
            ("sliding windows fold in-row — no explode",
             lambda p: "Generate" not in p),
            ("no Python / UDF in plan", lambda p: "Python" not in p),
        ],
        out,
        spark=spark,
    )
    all_ok &= audit(
        "friedman_test",
        lambda: queries()["friedman_test"](spark, SF_DIR),
        [
            ("block ranks via windows, never a global sort",
             lambda p: "Window" in p),
            ("daily counts reduce with map-side partials",
             lambda p: "partial" in p.lower()),
            ("no Python / UDF in plan", lambda p: "Python" not in p),
        ],
        out,
        spark=spark,
    )

    # round-3 batch 83: Hurst R/S, permutation entropy, Brown-Forsythe.
    all_ok &= audit(
        "hurst_rs",
        lambda: queries()["hurst_rs"](spark, SF_DIR),
        [
            ("block scans fold in-row over collected arrays — "
             "no per-element self-join",
             lambda p: "SortMergeJoin" not in p),
            ("hourly pre-aggregation reduces with map-side partials",
             lambda p: "partial" in p.lower()),
            ("no Python / UDF in plan", lambda p: "Python" not in p),
        ],
        out,
        notes="The x4 block-size explode happens AFTER the hourly "
        "rollup (bounded buckets x keys), never on raw events.",
        spark=spark,
    )
    all_ok &= audit(
        "permutation_entropy",
        lambda: queries()["permutation_entropy"](spark, SF_DIR),
        [
            ("one lead-window pass over the bucket order",
             lambda p: "Window" in p),
            ("pattern counts reduce with map-side partials",
             lambda p: "partial" in p.lower()),
            ("no Python / UDF in plan", lambda p: "Python" not in p),
        ],
        out,
        spark=spark,
    )
    all_ok &= audit(
        "brown_forsythe",
        lambda: queries()["brown_forsythe"](spark, SF_DIR),
        [
            ("median via mid-rank window — no join back to the facts",
             lambda p: "Window" in p and "SortMergeJoin" not in p),
            ("z power sums reduce with map-side partials",
             lambda p: "partial" in p.lower()),
            ("no Python / UDF in plan", lambda p: "Python" not in p),
        ],
        out,
        spark=spark,
    )

    # round-3 batch 84: UUIDv7 skew, Markov rate, Zipkin spans.
    all_ok &= audit(
        "uuid7_parse",
        lambda: queries()["uuid7_parse"](spark, SF_DIR),
        [
            ("pure map job: zero exchanges",
             lambda p: "Exchange" not in p),
            ("no Python / UDF in plan", lambda p: "Python" not in p),
        ],
        out,
        spark=spark,
    )
    all_ok &= audit(
        "markov_entropy_rate",
        lambda: queries()["markov_entropy_rate"](spark, SF_DIR),
        [
            ("one lead-window pass per sequence",
             lambda p: "Window" in p),
            ("transition counts reduce with map-side partials",
             lambda p: "partial" in p.lower()),
            ("no Python / UDF in plan", lambda p: "Python" not in p),
        ],
        out,
        spark=spark,
    )
    all_ok &= audit(
        "zipkin_span_parse",
        lambda: queries()["zipkin_span_parse"](spark, SF_DIR),
        [
            ("pure map job: zero exchanges",
             lambda p: "Exchange" not in p),
            ("no Python / UDF in plan", lambda p: "Python" not in p),
        ],
        out,
        spark=spark,
    )

    # round-3 batch 85: RAKE, Go durations, cookies.
    all_ok &= audit(
        "rake_keyphrases",
        lambda: queries()["rake_keyphrases"](spark, SF_DIR),
        [
            ("word stats reduce with map-side partials",
             lambda p: "partial" in p.lower()),
            ("phrase top-k via per-group window rank, no global sort",
             lambda p: "Window" in p),
            ("no Python / UDF in plan", lambda p: "Python" not in p),
        ],
        out,
        notes="Shuffles key on (group, token)-grade columns only; the "
        "phrase explode is map-side after the stopword cut.",
        spark=spark,
    )
    all_ok &= audit(
        "go_duration_parse",
        lambda: queries()["go_duration_parse"](spark, SF_DIR),
        [
            ("pure map job: zero exchanges",
             lambda p: "Exchange" not in p),
            ("no Python / UDF in plan", lambda p: "Python" not in p),
        ],
        out,
        spark=spark,
    )
    all_ok &= audit(
        "cookie_parse",
        lambda: queries()["cookie_parse"](spark, SF_DIR),
        [
            ("pure map job: zero exchanges",
             lambda p: "Exchange" not in p),
            ("no Python / UDF in plan", lambda p: "Python" not in p),
        ],
        out,
        spark=spark,
    )

    # round-3 batch 86: Jarque-Bera, Pettitt, Dunn.
    all_ok &= audit(
        "jarque_bera",
        lambda: queries()["jarque_bera"](spark, SF_DIR),
        [
            ("single map-side-combined power-sum aggregate",
             lambda p: "partial" in p.lower()),
            ("no window, no join — one exchange on the key",
             lambda p: "Window" not in p and "Join" not in p),
            ("no Python / UDF in plan", lambda p: "Python" not in p),
        ],
        out,
        spark=spark,
    )
    all_ok &= audit(
        "pettitt_test",
        lambda: queries()["pettitt_test"](spark, SF_DIR),
        [
            ("rank identity: windows, never the O(n^2) pair join",
             lambda p: "Window" in p and "SortMergeJoin" not in p),
            ("daily counts reduce with map-side partials",
             lambda p: "partial" in p.lower()),
            ("no Python / UDF in plan", lambda p: "Python" not in p),
        ],
        out,
        spark=spark,
    )
    all_ok &= audit(
        "dunn_posthoc",
        lambda: queries()["dunn_posthoc"](spark, SF_DIR),
        [
            ("pair join runs on the per-GROUP summary, never rows^2",
             lambda p: "Join" in p),
            ("rank sums reduce with map-side partials",
             lambda p: "partial" in p.lower()),
            ("no Python / UDF in plan", lambda p: "Python" not in p),
        ],
        out,
        spark=spark,
    )

    # round-3 batch 87: GC pauses, median polish, OLS trend.
    all_ok &= audit(
        "gc_pause_parse",
        lambda: queries()["gc_pause_parse"](spark, SF_DIR),
        [
            ("pure map job: zero exchanges",
             lambda p: "Exchange" not in p),
            ("no Python / UDF in plan", lambda p: "Python" not in p),
        ],
        out,
        spark=spark,
    )
    all_ok &= audit(
        "median_polish",
        lambda: queries()["median_polish"](spark, SF_DIR),
        [
            ("grid pre-aggregation reduces with map-side partials",
             lambda p: "partial" in p.lower()),
            ("median sweeps are windows over the bounded grid — "
             "no join",
             lambda p: "Window" in p and "Join" not in p),
            ("no Python / UDF in plan", lambda p: "Python" not in p),
        ],
        out,
        spark=spark,
    )
    all_ok &= audit(
        "ols_trend",
        lambda: queries()["ols_trend"](spark, SF_DIR),
        [
            ("single power-sum aggregate: no window, no join",
             lambda p: "Window" not in p and "Join" not in p),
            ("daily series reduces with map-side partials",
             lambda p: "partial" in p.lower()),
            ("no Python / UDF in plan", lambda p: "Python" not in p),
        ],
        out,
        spark=spark,
    )

    # round-3 batch 88: anisotropy, markdown, circuit breaker.
    all_ok &= audit(
        "embedding_anisotropy",
        lambda: queries()["embedding_anisotropy"](spark, SF_DIR),
        [
            ("no pair join anywhere — the ||sum||^2 identity",
             lambda p: "Join" not in p),
            ("component sums reduce with map-side partials",
             lambda p: "partial" in p.lower()),
            ("no Python / UDF in plan", lambda p: "Python" not in p),
        ],
        out,
        notes="Shuffle key is (label, dim) — |labels|x64 rows cross "
        "the exchange regardless of corpus size.",
        spark=spark,
    )
    all_ok &= audit(
        "markdown_structure",
        lambda: queries()["markdown_structure"](spark, SF_DIR),
        [
            ("pure map job: zero exchanges",
             lambda p: "Exchange" not in p),
            ("no Python / UDF in plan", lambda p: "Python" not in p),
        ],
        out,
        spark=spark,
    )
    all_ok &= audit(
        "circuit_breaker_replay",
        lambda: queries()["circuit_breaker_replay"](spark, SF_DIR),
        [
            ("state machine folds in-row over the collected outcome "
             "array — no iterative joins",
             lambda p: "Join" not in p),
            ("outcome collection reduces per service key",
             lambda p: "partial" in p.lower() or "Aggregate" in p),
            ("no Python / UDF in plan", lambda p: "Python" not in p),
        ],
        out,
        spark=spark,
    )

    # round-3 batch 89: Wilson CI, BH-FDR, jstack.
    all_ok &= audit(
        "wilson_interval",
        lambda: queries()["wilson_interval"](spark, SF_DIR),
        [
            ("single power-sum aggregate: no window, no join",
             lambda p: "Window" not in p and "Join" not in p),
            ("counts reduce with map-side partials",
             lambda p: "partial" in p.lower()),
            ("no Python / UDF in plan", lambda p: "Python" not in p),
        ],
        out,
        spark=spark,
    )
    all_ok &= audit(
        "bh_fdr",
        lambda: queries()["bh_fdr"](spark, SF_DIR),
        [
            ("global sort runs on the TEST table (distinct of a "
             "bounded key), never the fact table",
             lambda p: "Window" in p),
            ("no Python / UDF in plan", lambda p: "Python" not in p),
        ],
        out,
        notes="The unpartitioned rank window is inherent to a global "
        "test battery; its input is the deduplicated test set "
        "(thousands of rows), bounded regardless of fact volume.",
        spark=spark,
    )
    all_ok &= audit(
        "jstack_parse",
        lambda: queries()["jstack_parse"](spark, SF_DIR),
        [
            ("pure map job: zero exchanges",
             lambda p: "Exchange" not in p),
            ("no Python / UDF in plan", lambda p: "Python" not in p),
        ],
        out,
        spark=spark,
    )

    # round-3 batch 90: LTOB, Savitzky-Golay, Kneedle.
    all_ok &= audit(
        "ltob_downsample",
        lambda: queries()["ltob_downsample"](spark, SF_DIR),
        [
            ("windows per key — no self-join, no global sort",
             lambda p: "Window" in p and "Join" not in p),
            ("hourly pre-aggregation reduces with map-side partials",
             lambda p: "partial" in p.lower()),
            ("no Python / UDF in plan", lambda p: "Python" not in p),
        ],
        out,
        spark=spark,
    )
    all_ok &= audit(
        "savgol_smooth",
        lambda: queries()["savgol_smooth"](spark, SF_DIR),
        [
            ("one lag/lead window pass",
             lambda p: "Window" in p),
            ("no Python / UDF in plan", lambda p: "Python" not in p),
        ],
        out,
        spark=spark,
    )
    all_ok &= audit(
        "kneedle_detect",
        lambda: queries()["kneedle_detect"](spark, SF_DIR),
        [
            ("normalization + argmax via per-key windows, no join",
             lambda p: "Window" in p and "Join" not in p),
            ("no Python / UDF in plan", lambda p: "Python" not in p),
        ],
        out,
        spark=spark,
    )

    # round-3 batch 91: Jain, Erlang, MTTR.
    all_ok &= audit(
        "jain_fairness",
        lambda: queries()["jain_fairness"](spark, SF_DIR),
        [
            ("two keyed aggregates, no window, no join",
             lambda p: "Window" not in p and "Join" not in p),
            ("usage sums reduce with map-side partials",
             lambda p: "partial" in p.lower()),
            ("no Python / UDF in plan", lambda p: "Python" not in p),
        ],
        out,
        spark=spark,
    )
    all_ok &= audit(
        "erlang_queue",
        lambda: queries()["erlang_queue"](spark, SF_DIR),
        [
            ("one aggregate per key; recurrence folds in-row",
             lambda p: "Window" not in p and "Join" not in p),
            ("no Python / UDF in plan", lambda p: "Python" not in p),
        ],
        out,
        spark=spark,
    )
    all_ok &= audit(
        "incident_mttr",
        lambda: queries()["incident_mttr"](spark, SF_DIR),
        [
            ("error filter pushes into the scan",
             lambda p: "PushedFilters" in p or "Filter" in p),
            ("islands via one lag/cumsum window",
             lambda p: "Window" in p),
            ("no Python / UDF in plan", lambda p: "Python" not in p),
        ],
        out,
        spark=spark,
    )

    # round-3 batch 92: injection scan, mixed script, license.
    for nm in ("prompt_injection_scan", "mixed_script_audit",
               "license_detect"):
        all_ok &= audit(
            nm,
            (lambda n: lambda: queries()[n](spark, SF_DIR))(nm),
            [
                ("pure map job: zero exchanges",
                 lambda p: "Exchange" not in p),
                ("no Python / UDF in plan", lambda p: "Python" not in p),
            ],
            out,
            spark=spark,
        )

    # round-3 batch 93: grok, wildcard lookup, cron audit.
    all_ok &= audit(
        "grok_parse",
        lambda: queries()["grok_parse"](spark, SF_DIR),
        [
            ("pure map job: zero exchanges",
             lambda p: "Exchange" not in p),
            ("no Python / UDF in plan", lambda p: "Python" not in p),
        ],
        out,
        spark=spark,
    )
    all_ok &= audit(
        "wildcard_lookup",
        lambda: queries()["wildcard_lookup"](spark, SF_DIR),
        [
            ("pattern join is broadcast nested-loop (config-sized "
             "side) — the only shape a theta match can have",
             lambda p: "BroadcastNestedLoopJoin" in p),
            ("no Python / UDF in plan", lambda p: "Python" not in p),
        ],
        out,
        spark=spark,
    )
    all_ok &= audit(
        "cron_schedule_audit",
        lambda: queries()["cron_schedule_audit"](spark, SF_DIR),
        [
            ("x1440 explode runs on the EXPRESSION table, after the "
             "distinct",
             lambda p: "Generate" in p or "Expand" in p
             or "explode" in p.lower()),
            ("no Python / UDF in plan", lambda p: "Python" not in p),
        ],
        out,
        spark=spark,
    )

    # round-3 batch 94: xmlkv, IQR fences, transaction boundaries.
    # (round 5: the default parse is the Arrow-batched expat kernel —
    # vectorized pandas UDF, never row-at-a-time Python.)
    all_ok &= audit(
        "xmlkv_parse",
        lambda: queries()["xmlkv_parse"](spark, SF_DIR),
        [
            ("pure map job: zero exchanges",
             lambda p: "Exchange" not in p),
            ("Arrow-batched kernel, no row-wise Python",
             lambda p: "ArrowEvalPython" in p
             and "BatchEvalPython" not in p),
        ],
        out,
        spark=spark,
    )
    all_ok &= audit(
        "iqr_outliers",
        lambda: queries()["iqr_outliers"](spark, SF_DIR),
        [
            ("hinges via rank windows, no percentile UDAF, no join",
             lambda p: "Window" in p and "Join" not in p),
            ("no Python / UDF in plan", lambda p: "Python" not in p),
        ],
        out,
        spark=spark,
    )
    all_ok &= audit(
        "transaction_boundaries",
        lambda: queries()["transaction_boundaries"](spark, SF_DIR),
        [
            ("boundary assignment is windows only — no self-join",
             lambda p: "Window" in p and "Join" not in p),
            ("final rollup reduces with map-side partials",
             lambda p: "partial" in p.lower()),
            ("no Python / UDF in plan", lambda p: "Python" not in p),
        ],
        out,
        spark=spark,
    )

    # round-3 batch 95: labels, soundex, flap detection.
    all_ok &= audit(
        "future_window_labels",
        lambda: queries()["future_window_labels"](spark, SF_DIR),
        [
            ("feature window is a RANGE frame over the integer day "
             "grid; label is one lead — no self-join",
             lambda p: "Window" in p and "Join" not in p),
            ("daily rollup reduces with map-side partials",
             lambda p: "partial" in p.lower()),
            ("no Python / UDF in plan", lambda p: "Python" not in p),
        ],
        out,
        spark=spark,
    )
    all_ok &= audit(
        "soundex_grouping",
        lambda: queries()["soundex_grouping"](spark, SF_DIR),
        [
            ("distinct then one count window — bounded name table",
             lambda p: "Window" in p),
            ("no Python / UDF in plan", lambda p: "Python" not in p),
        ],
        out,
        spark=spark,
    )
    all_ok &= audit(
        "flap_detection",
        lambda: queries()["flap_detection"](spark, SF_DIR),
        [
            ("lag + rolling row frame + keyed aggregate; no self-join",
             lambda p: "Window" in p and "Join" not in p),
            ("no Python / UDF in plan", lambda p: "Python" not in p),
        ],
        out,
        spark=spark,
    )

    # ---- round-3 batches 96-103 ----
    all_ok &= audit(
        "cidr_enrich",
        lambda: queries()["cidr_enrich"](spark, SF_DIR),
        [
            ("LPM compiled to broadcast equi-join cascade (one BHJ per "
             "distinct prefix length, 5 here)",
             lambda p: p.count("BroadcastHashJoin") >= 5),
            ("no SortMergeJoin / no theta range join",
             lambda p: "SortMergeJoin" not in p),
            ("no Python in plan (the 5-row dim is a local relation)",
             lambda p: "Python" not in p),
        ],
        out,
        "fact side never shuffles for the lookup; the only exchange is "
        "the final zone rollup.",
        spark=spark,
    )
    all_ok &= audit(
        "kmv_set_sketch",
        lambda: queries()["kmv_set_sketch"](spark, SF_DIR),
        [
            ("distinct folds with partial aggregation before the shuffle",
             lambda p: "partial" in p.lower()),
            ("bounded top-k via row_number window", lambda p: "Window" in p),
            ("no Python / UDF in plan", lambda p: "Python" not in p),
        ],
        out,
        spark=spark,
    )
    all_ok &= audit(
        "jwt_claims_audit",
        lambda: queries()["jwt_claims_audit"](spark, SF_DIR),
        [
            ("base64url decode + JSON claim extraction stay JVM-side",
             lambda p: "Python" not in p),
            ("single aggregation exchange (token build is map-only)",
             lambda p: p.count("Exchange") <= 2),
        ],
        out,
        spark=spark,
    )
    all_ok &= audit(
        "anova_f_groups",
        lambda: queries()["anova_f_groups"](spark, SF_DIR),
        [
            ("power sums fold map-side (partial agg)",
             lambda p: "partial" in p.lower()),
            ("no second scan of the fact table (single parquet scan)",
             lambda p: len(re.findall(r"\(\d+\) Scan parquet", p)) == 1),
            ("no Python / UDF in plan", lambda p: "Python" not in p),
        ],
        out,
        spark=spark,
    )
    all_ok &= audit(
        "business_hours_sla",
        lambda: queries()["business_hours_sla"](spark, SF_DIR),
        [
            ("day expansion is a generator (Explode), not a join",
             lambda p: "Generate" in p),
            ("no Python / UDF in plan", lambda p: "Python" not in p),
        ],
        out,
        spark=spark,
    )
    all_ok &= audit(
        "secret_entropy_scan",
        lambda: queries()["secret_entropy_scan"](spark, SF_DIR),
        [
            ("entropy is per-row HOF math — only rollup exchanges",
             lambda p: p.count("Exchange") <= 2),
            ("no Python / UDF in plan", lambda p: "Python" not in p),
            ("candidate explode is a Generate node", lambda p: "Generate" in p),
        ],
        out,
        spark=spark,
    )
    all_ok &= audit(
        "simpson_diversity",
        lambda: queries()["simpson_diversity"](spark, SF_DIR),
        [
            ("two chained groupBys, both with partial aggregation",
             lambda p: "partial" in p.lower()),
            ("no Python / UDF in plan", lambda p: "Python" not in p),
        ],
        out,
        spark=spark,
    )
    all_ok &= audit(
        "durbin_watson",
        lambda: queries()["durbin_watson"](spark, SF_DIR),
        [
            ("mean join-back is broadcast (tiny aggregate side)",
             lambda p: "BroadcastHashJoin" in p and "SortMergeJoin" not in p),
            ("single lag window on the group key", lambda p: "Window" in p),
            ("no Python / UDF in plan", lambda p: "Python" not in p),
        ],
        out,
        spark=spark,
    )
    all_ok &= audit(
        "docker_log_parse",
        lambda: queries()["docker_log_parse"](spark, SF_DIR),
        [
            ("from_json with explicit schema (no schema inference scan)",
             lambda p: "from_json" in p),
            ("no Python / UDF in plan", lambda p: "Python" not in p),
            ("single rollup exchange", lambda p: p.count("Exchange") <= 2),
        ],
        out,
        spark=spark,
    )
    all_ok &= audit(
        "effect_size_cohens_d",
        lambda: queries()["effect_size_cohens_d"](spark, SF_DIR),
        [
            ("conditional power sums fold map-side",
             lambda p: "partial" in p.lower()),
            ("single parquet scan",
             lambda p: len(re.findall(r"\(\d+\) Scan parquet", p)) == 1),
            ("no Python / UDF in plan", lambda p: "Python" not in p),
        ],
        out,
        spark=spark,
    )
    all_ok &= audit(
        "good_turing_smoothing",
        lambda: queries()["good_turing_smoothing"](spark, SF_DIR),
        [
            ("count-of-counts self-join is broadcast (tiny r table)",
             lambda p: "BroadcastHashJoin" in p or "BroadcastNestedLoopJoin" in p),
            ("tokenize is Generate (explode), no Python",
             lambda p: "Generate" in p and "Python" not in p),
        ],
        out,
        spark=spark,
    )
    all_ok &= audit(
        "leef_parse_fields",
        lambda: queries()["leef_parse_fields"](spark, SF_DIR),
        [
            ("anchored-regex parse stays in codegen — no Python",
             lambda p: "Python" not in p),
            ("single rollup exchange", lambda p: p.count("Exchange") <= 2),
        ],
        out,
        spark=spark,
    )
    all_ok &= audit(
        "mcnemar_deploy_gate",
        lambda: queries()["mcnemar_deploy_gate"](spark, SF_DIR),
        [
            ("pairing groupBy folds with partial aggregation",
             lambda p: "partial" in p.lower()),
            ("no Python / UDF in plan", lambda p: "Python" not in p),
        ],
        out,
        spark=spark,
    )
    all_ok &= audit(
        "grubbs_outlier",
        lambda: queries()["grubbs_outlier"](spark, SF_DIR),
        [
            ("one aggregation, no window, no join (min/max trick)",
             lambda p: "Window" not in p and "Join" not in p),
            ("partial aggregation present", lambda p: "partial" in p.lower()),
            ("no Python / UDF in plan", lambda p: "Python" not in p),
        ],
        out,
        spark=spark,
    )
    all_ok &= audit(
        "ljung_box_whiteness",
        lambda: queries()["ljung_box_whiteness"](spark, SF_DIR),
        [
            ("ONE window carries all 3 lags (not one shuffle per lag)",
             lambda p: len(re.findall(r"\(\d+\) Window", p)) == 1),
            ("mean join-back is broadcast",
             lambda p: "BroadcastHashJoin" in p and "SortMergeJoin" not in p),
            ("no Python / UDF in plan", lambda p: "Python" not in p),
        ],
        out,
        spark=spark,
    )
    all_ok &= audit(
        "lorenz_value_deciles",
        lambda: queries()["lorenz_value_deciles"](spark, SF_DIR),
        [
            ("only unit totals are ranked (fact scan aggregates first)",
             lambda p: "partial" in p.lower()),
            ("no Python / UDF in plan", lambda p: "Python" not in p),
        ],
        out,
        "global ntile over unit totals is a deliberate single-partition "
        "window on the |units| aggregate — never on the fact table.",
        spark=spark,
    )
    all_ok &= audit(
        "dora_release_health",
        lambda: queries()["dora_release_health"](spark, SF_DIR),
        [
            ("failure probe is an equi-semi-join on the unit key",
             lambda p: "LeftSemi" in p),
            ("no Python / UDF in plan", lambda p: "Python" not in p),
        ],
        out,
        spark=spark,
    )
    all_ok &= audit(
        "klog_parse_fields",
        lambda: queries()["klog_parse_fields"](spark, SF_DIR),
        [
            ("anchored-regex parse stays in codegen — no Python",
             lambda p: "Python" not in p),
            ("distinct-pid rollup folds with partial aggregation",
             lambda p: "partial" in p.lower()),
        ],
        out,
        spark=spark,
    )
    all_ok &= audit(
        "kmv_jaccard_sets",
        lambda: queries()["kmv_jaccard_sets"](spark, SF_DIR),
        [
            ("hash-flag distinct folds with partial aggregation",
             lambda p: "partial" in p.lower()),
            ("audit columns join back via broadcast",
             lambda p: "Broadcast" in p),
            ("no Python / UDF in plan", lambda p: "Python" not in p),
        ],
        out,
        spark=spark,
    )
    all_ok &= audit(
        "theil_inequality",
        lambda: queries()["theil_inequality"](spark, SF_DIR),
        [
            ("global scalars join back via broadcast (no SMJ)",
             lambda p: "SortMergeJoin" not in p),
            ("no Python / UDF in plan", lambda p: "Python" not in p),
        ],
        out,
        spark=spark,
    )
    all_ok &= audit(
        "kaplan_meier_conversion",
        lambda: queries()["kaplan_meier_conversion"](spark, SF_DIR),
        [
            ("risk-set + survival are windows over the bucketed day "
             "table, never the fact table",
             lambda p: "Window" in p),
            ("per-user reduce folds with partial aggregation",
             lambda p: "partial" in p.lower()),
            ("no Python / UDF in plan", lambda p: "Python" not in p),
        ],
        out,
        spark=spark,
    )
    all_ok &= audit(
        "readability_docs",
        lambda: queries()["readability_docs"](spark, SF_DIR),
        [
            ("doc_id sampling filter pushes to the parquet scan",
             lambda p: re.search(r"PushedFilters: \[[^\]]+\]", p) is not None
             or "Filter" in p),
            ("all counts are per-row HOF math — zero exchanges",
             lambda p: p.count("Exchange") == 0),
            ("no Python / UDF in plan", lambda p: "Python" not in p),
        ],
        out,
        spark=spark,
    )
    all_ok &= audit(
        "moods_median_groups",
        lambda: queries()["moods_median_groups"](spark, SF_DIR),
        [
            ("global median broadcast back to the facts (no SMJ)",
             lambda p: "SortMergeJoin" not in p),
            ("contingency pass folds with partial aggregation",
             lambda p: "partial" in p.lower()),
            ("no Python / UDF in plan", lambda p: "Python" not in p),
        ],
        out,
        spark=spark,
    )
    all_ok &= audit(
        "business_connected_components",
        lambda: queries()["connected_components"](spark, SF_DIR),
        [
            ("converged star forest: final assembly is unions over "
             "checkpointed edges (lineage truncated per round)",
             lambda p: "Union" in p),
        ],
        out,
        "iterative operator: per-round plans are one groupBy-min shuffle "
        "+ one co-partitioned join-back; localCheckpoint truncates "
        "lineage so the audited final plan stays flat.",
        spark=spark,
    )

    # ---- round-3 batches 104-112 ----
    for nm, checks, notes in [
        ("welch_anova_groups",
         [("power sums fold map-side", lambda p: "partial" in p.lower()),
          ("single parquet scan",
           lambda p: len(re.findall(r"\(\d+\) Scan parquet", p)) == 1),
          ("no Python / UDF in plan", lambda p: "Python" not in p)], ""),
        ("cms_frequency_probe",
         [("depth-explode is a Generate node", lambda p: "Generate" in p),
          ("sketch broadcast to the probes", lambda p: "Broadcast" in p),
          ("no Python / UDF in plan", lambda p: "Python" not in p)],
         "sketch table is depth*width rows — always broadcastable."),
        ("weibull_error_gaps",
         [("one rank window per group then power-sum OLS",
           lambda p: "Window" in p and "partial" in p.lower()),
          ("no Python / UDF in plan", lambda p: "Python" not in p)], ""),
        ("acf_pacf_correlogram",
         [("ONE window carries all 3 lags",
           lambda p: len(re.findall(r"\(\d+\) Window", p)) == 1),
          ("mean join-back is broadcast",
           lambda p: "BroadcastHashJoin" in p and "SortMergeJoin" not in p),
          ("no Python / UDF in plan", lambda p: "Python" not in p)], ""),
        ("granger_clicks_errors",
         [("minute series aggregates before any window",
           lambda p: "partial" in p.lower()),
          ("both lags in one window",
           lambda p: len(re.findall(r"\(\d+\) Window", p)) == 1),
          ("no Python / UDF in plan", lambda p: "Python" not in p)],
         "the lag window runs on the per-minute aggregate, never the "
         "fact table."),
        ("mde_event_conversion",
         [("one conditional-aggregate pass",
           lambda p: len(re.findall(r"\(\d+\) Scan parquet", p)) == 1),
          ("no Python / UDF in plan", lambda p: "Python" not in p)], ""),
        ("logrank_cohorts",
         [("risk sets fold over the bucketed-day table (Window present)",
           lambda p: "Window" in p),
          ("no Python / UDF in plan", lambda p: "Python" not in p)], ""),
        ("classifier_threshold_eval",
         [("AUC folds by distinct score (no per-row rank of the facts)",
           lambda p: "partial" in p.lower()),
          ("no Python / UDF in plan", lambda p: "Python" not in p)], ""),
        ("nearest_poi_enrich",
         [("POI argmin compiled into row expressions — no join on facts",
           lambda p: "SortMergeJoin" not in p),
          ("no Python EVAL in plan",
           lambda p: "EvalPython" not in p and "InPandas" not in p)],
         "like cidr_enrich: bounded dim collected driver-side."),
        ("cohens_kappa_judges",
         [("label-pair table is tiny; marginals join broadcast",
           lambda p: "Broadcast" in p),
          ("no Python / UDF in plan", lambda p: "Python" not in p)], ""),
        ("fleiss_kappa_panel",
         [("vote union scans fold to (item,cat) with partial agg",
           lambda p: "partial" in p.lower()),
          ("no Python / UDF in plan", lambda p: "Python" not in p)], ""),
        ("bradley_terry_tools",
         [("duel pairs from one lag window",
           lambda p: len(re.findall(r"\(\d+\) Window", p)) >= 1),
          ("pair grid is contestant^2 — tiny",
           lambda p: "Python" not in p)], ""),
        ("out_of_order_audit",
         [("running high-watermark is one per-shard window",
           lambda p: len(re.findall(r"\(\d+\) Window", p)) == 1),
          ("no Python / UDF in plan", lambda p: "Python" not in p)], ""),
        ("clock_drift_hosts",
         [("per-host OLS folds from power sums (partial agg)",
           lambda p: "partial" in p.lower()),
          ("global t0 broadcast back", lambda p: "Broadcast" in p),
          ("no Python / UDF in plan", lambda p: "Python" not in p)], ""),
        ("hash_tf_probe_cosine",
         [("tokenize is Generate; probe joins broadcast",
           lambda p: "Generate" in p and "Broadcast" in p),
          ("no Python in plan (the probe is a local relation)",
           lambda p: "Python" not in p)], ""),
        ("calinski_harabasz",
         [("W folds via compiled-centroid row expressions (no point join)",
           lambda p: "SortMergeJoin" not in p),
          ("no Python EVAL in plan",
           lambda p: "EvalPython" not in p and "InPandas" not in p)], ""),
        ("davies_bouldin",
         [("pairwise centroid work on the k-row table only",
           lambda p: "SortMergeJoin" not in p),
          ("no Python EVAL in plan",
           lambda p: "EvalPython" not in p and "InPandas" not in p)], ""),
        ("silhouette_clusters",
         [("wide-form distances: zero point-side joins",
           lambda p: "SortMergeJoin" not in p),
          ("no Python EVAL in plan",
           lambda p: "EvalPython" not in p and "InPandas" not in p)], ""),
        ("ann_recall_at_k",
         [("probe cross join is broadcast (bounded eval set)",
           lambda p: "Broadcast" in p),
          ("no Python EVAL in plan",
           lambda p: "EvalPython" not in p and "InPandas" not in p)], ""),
        ("missing_parent_spans",
         [("parent resolve is an equi-join on (trace, parent)",
           lambda p: "Join" in p),
          ("no Python / UDF in plan", lambda p: "Python" not in p)], ""),
        ("offset_gap_audit",
         [("one lag window per shard", 
           lambda p: len(re.findall(r"\(\d+\) Window", p)) == 1),
          ("no Python / UDF in plan", lambda p: "Python" not in p)], ""),
        ("ohlc_candles",
         [("first/last are order-explicit windows co-partitioned with "
           "the rollup", lambda p: "Window" in p),
          ("no Python / UDF in plan", lambda p: "Python" not in p)], ""),
        ("maxmin_waterfill",
         [("waterfill telescopes to prefix sums (no iteration)",
           lambda p: "Window" in p),
          ("no Python / UDF in plan", lambda p: "Python" not in p)],
         "the ordered window runs on the per-tenant table, never facts."),
        ("sax_event_shapes",
         [("stats join-back broadcast; one ntile window",
           lambda p: "BroadcastHashJoin" in p and "SortMergeJoin" not in p),
          ("no Python / UDF in plan", lambda p: "Python" not in p)], ""),
        ("haproxy_log_parse",
         [("anchored-regex parse in codegen — no Python",
           lambda p: "Python" not in p),
          ("single rollup exchange", lambda p: p.count("Exchange") <= 2)], ""),
        ("error_budget_burndown",
         [("daily rollup partial-aggregated before the cumulative window",
           lambda p: "partial" in p.lower() and "Window" in p),
          ("no Python / UDF in plan", lambda p: "Python" not in p)], ""),
        ("morans_i_hours",
         [("neighbor products on the 24-row cell table (broadcast)",
           lambda p: "Broadcast" in p),
          ("no Python / UDF in plan", lambda p: "Python" not in p)], ""),
    ]:
        all_ok &= audit(
            nm, (lambda nm: lambda: queries()[nm](spark, SF_DIR))(nm),
            checks, out, notes, spark=spark,
        )

    # ---- round-3 batches 113-117 ----
    for nm, checks, notes in [
        ("naive_bayes_error",
         [("likelihood tables broadcast onto the test split",
           lambda p: "Broadcast" in p and "SortMergeJoin" not in p),
          ("no Python / UDF in plan", lambda p: "Python" not in p)],
         "count tables are bounded by categorical cardinalities."),
        ("decision_stump_gains",
         [("one bounded groupBy per attribute, partial-aggregated",
           lambda p: "partial" in p.lower()),
          ("no Python / UDF in plan", lambda p: "Python" not in p)], ""),
        ("mahalanobis_outliers",
         [("moments broadcast back (no SMJ), no window",
           lambda p: "SortMergeJoin" not in p and "Window" not in p),
          ("no Python / UDF in plan", lambda p: "Python" not in p)], ""),
        ("poisson_rate_ratio",
         [("one conditional-aggregate pass",
           lambda p: len(re.findall(r"\(\d+\) Scan parquet", p)) == 1),
          ("no Python / UDF in plan", lambda p: "Python" not in p)], ""),
        ("huber_location",
         [("median/MAD scalars broadcast back",
           lambda p: "Broadcast" in p and "SortMergeJoin" not in p),
          ("no Python / UDF in plan", lambda p: "Python" not in p)], ""),
        ("pca_power_iteration",
         [("result is the bounded driver-assembled vector (per-pass "
           "aggregates run inside the iteration loop)",
           lambda p: "ExistingRDD" in p),
          ("no Python EVAL in plan",
           lambda p: "EvalPython" not in p and "InPandas" not in p)],
         "d-vector round-trips through the driver per iteration — "
         "bounded state, like the k-means Lloyd step; the audited "
         "plan is the final 1-row result, so the covariance-free "
         "aggregates are inside the loop, not in this plan."),
        ("count_dispersion_diag",
         [("grid-free (r5): zero cells arithmetic from n_users x "
           "n_days; power sums over nonzero cells only",
           lambda p: "Join" in p),
          ("no Python / UDF in plan", lambda p: "Python" not in p)], ""),
        ("gamma_moments_fit",
         [("single power-sum pass",
           lambda p: len(re.findall(r"\(\d+\) Scan parquet", p)) == 1),
          ("no Python / UDF in plan", lambda p: "Python" not in p)], ""),
        ("burstiness_memory",
         [("gap + lag in per-unit windows (two chained)",
           lambda p: "Window" in p),
          ("no Python / UDF in plan", lambda p: "Python" not in p)], ""),
        ("sql_query_fingerprint",
         [("regex normalization in codegen — no Python",
           lambda p: "Python" not in p),
          ("single rollup exchange", lambda p: p.count("Exchange") <= 2)], ""),
        ("user_agent_classify",
         [("classification ladder in codegen — no Python",
           lambda p: "Python" not in p),
          ("single rollup exchange", lambda p: p.count("Exchange") <= 2)], ""),
        ("hedge_effectiveness",
         [("both quantiles from one aggregate pass",
           lambda p: len(re.findall(r"\(\d+\) Scan parquet", p)) == 1),
          ("no Python / UDF in plan", lambda p: "Python" not in p)], ""),
        ("split_conformal_interval",
         [("calibration scalars broadcast to the test slice",
           lambda p: "Broadcast" in p and "SortMergeJoin" not in p),
          ("no Python / UDF in plan", lambda p: "Python" not in p)], ""),
        ("burrows_delta_sources",
         [("top-N selection windows the tiny global word table",
           lambda p: "Window" in p),
          ("tokenize is Generate", lambda p: "Generate" in p),
          ("no Python / UDF in plan", lambda p: "Python" not in p)], ""),
        ("lin_concordance",
         [("single power-sum pass",
           lambda p: len(re.findall(r"\(\d+\) Scan parquet", p)) == 1),
          ("no Python / UDF in plan", lambda p: "Python" not in p)], ""),
        ("proto_varint_roundtrip",
         [("encode+decode folds are pure map: single scan, one agg "
           "exchange pair",
           lambda p: len(re.findall(r"\(\d+\) Scan parquet", p)) == 1
           and p.count("Exchange") <= 2),
          ("no Python / UDF in plan — wire codec runs in Catalyst",
           lambda p: "Python" not in p)],
         "aggregate() HOF state machine; at 10^12 rows a pure map "
         "stage ahead of the bounded event_type rollup."),
    ]:
        all_ok &= audit(
            nm, (lambda nm: lambda: queries()[nm](spark, SF_DIR))(nm),
            checks, out, notes, spark=spark,
        )

    # ---- round-3 batches 118-128 ----
    for nm, checks, notes in [
        ("stacktrace_group",
         [("extract+normalize+fingerprint in codegen, one rollup",
           lambda p: "Python" not in p and p.count("Exchange") <= 2)],
         "regexp_extract_all + md5 per row; fingerprint set bounded."),
        ("bruteforce_detect",
         [("one entity-keyed RANGE window, no self-join",
           lambda p: p.count("Window") >= 1
           and "SortMergeJoin" not in p),
          ("no Python / UDF in plan", lambda p: "Python" not in p)], ""),
        ("w3c_extended_parse",
         [("directive resolution via last(ignorenulls) window",
           lambda p: "Window" in p),
          ("no Python / UDF in plan", lambda p: "Python" not in p)],
         "single file_id in the entry; real use partitions per file."),
        ("poisson_bootstrap_ci",
         [("map-side replicate explode (Generate), no resample "
           "shuffle beyond (group, rep)",
           lambda p: "Generate" in p),
          ("no Python / UDF in plan", lambda p: "Python" not in p)], ""),
        ("page_trend_test",
         [("block-sized windows only", lambda p: "Window" in p),
          ("no Python / UDF in plan", lambda p: "Python" not in p)], ""),
        ("cramer_von_mises_drift",
         [("cumsum window over the bounded value grid only",
           lambda p: "Window" in p),
          ("no Python / UDF in plan", lambda p: "Python" not in p)], ""),
        ("dga_domain_score",
         [("in-row entropy arrays: zero exchanges, pure map",
           lambda p: p.count("Exchange") == 0),
          ("no Python / UDF in plan", lambda p: "Python" not in p)], ""),
        ("gesd_outliers",
         [("3 bounded rounds: keyed aggregates + anti-joins, lineage "
           "truncated via localCheckpoint",
           lambda p: "Scan ExistingRDD" in p),
          ("no Python / UDF in plan", lambda p: "Python" not in p)], ""),
        ("hampel_despike",
         [("one keyed window; medians in-row on the sorted frame",
           lambda p: "Window" in p and "Python" not in p)], ""),
        ("hash_reservoir_sample",
         [("one keyed top-k window, no global sort",
           lambda p: "Window" in p),
          ("no Python / UDF in plan", lambda p: "Python" not in p)], ""),
        ("position_bias_ipw",
         [("bias dim joined by broadcast (AQE-sized)",
           lambda p: "Join" in p),
          ("no Python / UDF in plan", lambda p: "Python" not in p)], ""),
        ("lift_gains_table",
         [("ntile over unit totals only (single-partition window on "
           "the aggregated table)", lambda p: "Window" in p),
          ("no Python / UDF in plan", lambda p: "Python" not in p)], ""),
        ("shapley_attribution",
         [("coalition table tiny: unit mask agg then 2^n grid joins",
           lambda p: "Join" in p),
          ("no Python / UDF in plan", lambda p: "Python" not in p)], ""),
        ("qini_uplift",
         [("binned cumulative windows on 10-row table",
           lambda p: "Window" in p),
          ("no Python / UDF in plan", lambda p: "Python" not in p)], ""),
        ("nginx_error_parse",
         [("anchored + keyed regexps, zero exchanges",
           lambda p: p.count("Exchange") == 0 and "Python" not in p)],
         ""),
        ("cdc_compact",
         [("one keyed window + filter — single exchange",
           lambda p: "Window" in p and "Python" not in p)], ""),
        ("postfix_parse",
         [("keyed regexps, zero exchanges",
           lambda p: p.count("Exchange") == 0 and "Python" not in p)],
         ""),
        ("allan_variance",
         [("per-tau block aggregates + lag windows, no cross join "
           "of raw rows", lambda p: "Window" in p),
          ("no Python / UDF in plan", lambda p: "Python" not in p)], ""),
        ("dtw_profile_distance",
         [("pairwise table bounded; DP fold in-row (no Python)",
           lambda p: "Python" not in p),
          ("profiles aggregated before the pair join",
           lambda p: "Join" in p)], ""),
        ("kalman_level",
         [("fold per collected bounded series; posexplode back",
           lambda p: "Generate" in p and "Python" not in p)], ""),
        ("linear_counting",
         [("one distinct-bucket aggregate",
           lambda p: "Python" not in p)], ""),
        ("fellegi_sunter",
         [("one conditional-aggregate pass over blocked pairs",
           lambda p: "Python" not in p)],
         "pair volume bounded by block sizing; caller owns blocking."),
        ("harmonic_ols_forecast",
         [("one power-sum exchange; Cramer in-row",
           lambda p: "Python" not in p and
           len(re.findall(r"\(\d+\) Scan parquet", p)) == 1)], ""),
        ("dp_noisy_counts",
         [("noise in-row after one aggregate",
           lambda p: "Python" not in p)], ""),
        ("quantile_normalize_sources",
         [("bounded bucket-CDF tables; step lookup via join",
           lambda p: "Join" in p and "Python" not in p)], ""),
        ("classical_decomposition",
         [("kernel window + bounded per-phase agg joined back",
           lambda p: "Window" in p and "Python" not in p)], ""),
        ("diff_in_diff",
         [("single conditional-aggregate pass",
           lambda p: len(re.findall(r"\(\d+\) Scan parquet", p)) == 1
           and "Python" not in p)], ""),
        ("bandit_replay_eval",
         [("policy dim join onto the eval slice",
           lambda p: "Join" in p and "Python" not in p)], ""),
        ("isotonic_calibration",
         [("bin aggregate then in-row minimax arrays",
           lambda p: "Python" not in p)], ""),
        ("mg1_waiting",
         [("single moment-sum pass",
           lambda p: len(re.findall(r"\(\d+\) Scan parquet", p)) == 1
           and "Python" not in p)], ""),
        ("seasonal_esd",
         [("decomposition windows + bounded GESD rounds "
           "(localCheckpoint lineage)",
           lambda p: "Scan ExistingRDD" in p),
          ("no Python / UDF in plan", lambda p: "Python" not in p)], ""),
        ("nw_sequence_align",
         [("alignment DP in-row; pair join over aggregated sequences",
           lambda p: "Join" in p and "Python" not in p)], ""),
        ("lof_outliers",
         [("kNN edge table checkpointed once (3 reuses)",
           lambda p: "Scan ExistingRDD" in p),
          ("density math JVM-side (the kNN scoring kernel runs "
           "upstream of the checkpoint)",
           lambda p: "BatchEvalPython" not in p)], ""),
        ("stratified_kfold",
         [("one class-keyed window, stable hash order",
           lambda p: "Window" in p and "Python" not in p)], ""),
        ("holm_bonferroni",
         [("ordered windows over the bounded test table",
           lambda p: "Window" in p and "Python" not in p)], ""),
        ("winnowing_pairs",
         [("k-gram hash array materialized once; Generate only for "
           "the selected prints", lambda p: "Generate" in p),
          ("no Python / UDF in plan", lambda p: "Python" not in p)],
         "posting cap (max_df) before the self-join — jaccard rule."),
        ("zone_map_prune_audit",
         [("block min/max aggregate + bounded probe cross join",
           lambda p: "Join" in p),
          ("no Python RDD scan (probes are literals)",
           lambda p: "Python" not in p)], ""),
        ("k8s_audit_parse",
         [("pure path extraction, zero exchanges",
           lambda p: p.count("Exchange") == 0 and "Python" not in p)],
         ""),
        ("viterbi_burst_states",
         [("integer-weight DP folds per collected bounded series",
           lambda p: "Generate" in p and "Python" not in p)], ""),
        ("gmm_em_2comp",
         [("result is the bounded driver-assembled parameter table "
           "(per-iteration aggregates run inside the loop)",
           lambda p: "ExistingRDD" in p),
          ("no Python EVAL in plan",
           lambda p: "EvalPython" not in p and "InPandas" not in p)],
         "fixed 10-iteration EM; each iteration is one full-table "
         "aggregate pass driven from the driver — k-means precedent."),
        ("ndv_from_sample_gee",
         [("row-hash sample filter pushed ahead of the value agg",
           lambda p: "Python" not in p)], ""),
        ("pot_gpd_fit",
         [("threshold quantile + one excess-moment pass",
           lambda p: "Python" not in p and "Join" in p)], ""),
        ("moe_router_balance",
         [("single conditional-aggregate pass over router probs",
           lambda p: len(re.findall(r"\(\d+\) Scan parquet", p)) >= 1
           and "Python" not in p)], ""),
        ("iv_2sls",
         [("single power-sum pass",
           lambda p: len(re.findall(r"\(\d+\) Scan parquet", p)) == 1
           and "Python" not in p)], ""),
        ("regression_discontinuity",
         [("bandwidth filter + one conditional-aggregate pass",
           lambda p: len(re.findall(r"\(\d+\) Scan parquet", p)) == 1
           and "Python" not in p)], ""),
        ("propensity_matching",
         [("asof-style directional windows, no cross join of arms",
           lambda p: "Window" in p and "Python" not in p)],
         "windows run over the per-unit scored table (lift/qini "
         "discipline), never raw events."),
        ("cdc_chunk_dedup",
         [("boundary detection in-row; only (doc, chunk-hash) "
           "explodes", lambda p: "Generate" in p),
          ("no Python / UDF in plan", lambda p: "Python" not in p)],
         ""),
        ("randomized_response",
         [("per-row flip + one aggregate pass",
           lambda p: len(re.findall(r"\(\d+\) Scan parquet", p)) == 1
           and "Python" not in p)], ""),
        ("krippendorff_alpha",
         [("two bounded aggregates over (unit, category) counts",
           lambda p: "Python" not in p)], ""),
        ("capture_recapture",
         [("one conditional count-distinct pass",
           lambda p: "Python" not in p)], ""),
        ("aa_test_calibration",
         [("map-side split explode (Generate), one (rep) exchange",
           lambda p: "Generate" in p and "Python" not in p)], ""),
        ("degree_assortativity",
         [("degree joins over the bounded edge list, no windows",
           lambda p: "Join" in p and "Window" not in p
           and "Python" not in p)], ""),
        ("ams_f2_sketch",
         [("map-side estimator explode, bounded (j) exchange",
           lambda p: "Generate" in p and "Python" not in p)], ""),
        ("simpsons_paradox_detect",
         [("one power-sum pass (per-group sums checkpointed; pooled "
           "slope from summed group sums)",
           lambda p: len(re.findall(r"\(\d+\) Scan parquet", p)) <= 1
           and "Python" not in p)], ""),
        ("mediation_analysis",
         [("single power-sum pass, 2x2 normal equations in-row",
           lambda p: len(re.findall(r"\(\d+\) Scan parquet", p)) == 1
           and "Python" not in p)], ""),
        ("adtributor_rootcause",
         [("per-dimension bounded count tables + top-k windows",
           lambda p: "Window" in p and "Python" not in p)], ""),
        ("hotelling_t2",
         [("single conditional power-sum pass, 2x2 inverse in-row",
           lambda p: len(re.findall(r"\(\d+\) Scan parquet", p)) == 1
           and "Python" not in p)], ""),
        ("newsvendor_quantile",
         [("quantile table joined back for the cost pass",
           lambda p: "Join" in p and "Python" not in p)], ""),
        ("twfe_panel",
         [("bounded unit/time mean tables joined back, one power-sum",
           lambda p: "Join" in p and "Window" not in p
           and "Python" not in p)], ""),
        ("adstock_fit",
         [("decay fold per collected bounded series",
           lambda p: "Generate" in p and "Python" not in p)], ""),
        ("quantile_treatment_effect",
         [("one conditional-percentile aggregate",
           lambda p: "Python" not in p)], ""),
        ("acronym_pairs",
         [("extraction + initials check in-row; Generate only for "
           "candidates", lambda p: "Generate" in p
           and "Python" not in p)], ""),
        ("leave_one_out_influence",
         [("single pass (checkpointed sums): every refit from "
           "power-sum subtraction",
           lambda p: len(re.findall(r"\(\d+\) Scan parquet", p)) <= 1
           and "Python" not in p)], ""),
        ("forecast_combo",
         [("one keyed lag-window pass + bounded weight join",
           lambda p: "Window" in p and "Python" not in p)], ""),
        ("rmst",
         [("KM curve integrated via one bounded window",
           lambda p: "Window" in p and "Python" not in p)], ""),
        ("obrien_fleming_looks",
         [("cumulative look window over the 5-row per-look table",
           lambda p: "Window" in p and "Python" not in p)], ""),
        ("snips_offpolicy",
         [("policy dim join onto the eval slice, weighted aggregate",
           lambda p: "Join" in p and "Python" not in p)], ""),
        ("conformance_fitness",
         [("one keyed lag window + literal model-edge join",
           lambda p: "Window" in p and "Python" not in p)], ""),
        ("usl_fit",
         [("single power-sum pass, 3x3 Cramer in-row",
           lambda p: len(re.findall(r"\(\d+\) Scan parquet", p)) == 1
           and "Python" not in p)], ""),
        ("brunner_munzel",
         [("rank machinery on the bounded bucket grid only",
           lambda p: "Window" in p and "Python" not in p)], ""),
        ("composite_slo",
         [("one availability aggregate; composition in-row over the "
           "pivoted bounded row", lambda p: "Python" not in p)], ""),
        ("retry_amplification",
         [("bounded-depth BFS joins over the edge dim; deterministic "
           "per-service argmax window",
           lambda p: "Join" in p and "Window" in p
           and "Python" not in p)], ""),
        ("transfer_entropy",
         [("8-cell grid windows after one lag pass; cells "
           "checkpointed for both directions",
           lambda p: "Scan ExistingRDD" in p and "Python" not in p)],
         ""),
        ("benford_second_digit",
         [("integer-cents digit extraction, bounded digit grid",
           lambda p: "Python" not in p)], ""),
        ("littles_law_audit",
         [("bounded hour-explode (Generate) + two keyed aggregates, "
           "one keyed join, no windows",
           lambda p: "Generate" in p and "Python" not in p)], ""),
        ("cochran_armitage_trend",
         [("keyed group aggregate then single-row reduction, "
           "map-side partial throughout",
           lambda p: "Python" not in p and "Window" not in p
           and "Join" not in p)], ""),
        ("adamic_adar_linkpred",
         [("df-banded posting self-join (no unbanded cross product); "
           "TakeOrdered-style top-k, no Python",
           lambda p: "Join" in p and "Python" not in p)], ""),
        ("elb_log_parse",
         [("single anchored regex, map-only: no exchange/join/window",
           lambda p: "Join" not in p and "Window" not in p
           and "Python" not in p)], ""),
        ("sshd_auth_parse",
         [("single anchored regex, map-only: no exchange/join/window",
           lambda p: "Join" not in p and "Window" not in p
           and "Python" not in p)], ""),
        ("envoy_access_parse",
         [("single anchored regex, map-only: no exchange/join/window",
           lambda p: "Join" not in p and "Window" not in p
           and "Python" not in p)], ""),
        ("jonckheere_terpstra",
         [("bounded cents-grid rank machinery (value-keyed join, "
           "no O(n^2) pair scan)",
           lambda p: "Join" in p and "Window" in p
           and "Python" not in p)], ""),
        ("kendalls_w",
         [("midrank windows over the bounded judgexobject grid only",
           lambda p: "Window" in p and "Python" not in p)], ""),
        ("cronbach_alpha",
         [("zero-filled unit x item matrix; variances via sum/sumsq "
           "keyed aggregates",
           lambda p: "Python" not in p)], ""),
        ("theta_forecast",
         [("closed-form OLS + explicit-weight SES: keyed aggregates, "
           "bounded horizon explode, no sequential fold",
           lambda p: "Python" not in p)], ""),
        ("croston_intermittent",
         [("grid-free (r5): in-row fold over rank-tagged sparse "
           "demand points (no per-row Python, no driver loop)",
           lambda p: "Python" not in p)], ""),
        ("variance_ratio_test",
         [("two lag windows + single-row reduction",
           lambda p: "Window" in p and "Python" not in p)], ""),
        ("rendezvous_routing",
         [("in-row literal-array argmax, one distinct + one bounded "
           "group-by, no joins",
           lambda p: "Join" not in p and "Python" not in p)], ""),
        ("consistent_hash_ring",
         [("broadcast range join against the bounded vnode ring",
           lambda p: "BroadcastNestedLoopJoin" in p
           and "Python" not in p)], ""),
        ("ivm_delta_apply",
         [("two keyed aggregates + one full-outer key-equi merge; "
           "no base rescan",
           lambda p: "Join" in p and "Python" not in p)], ""),
        ("beaconing_detect",
         [("channel-keyed lag + mean windows, one keyed aggregate, "
           "no joins",
           lambda p: "Window" in p and "Join" not in p
           and "Python" not in p)], ""),
        ("password_spray_detect",
         [("single keyed aggregate (count + distinct), no "
           "windows/joins",
           lambda p: "Window" not in p and "Join" not in p
           and "Python" not in p)], ""),
        ("impossible_travel",
         [("one per-user lag window; in-row literal-array haversine, "
           "no geo join",
           lambda p: "Window" in p and "Join" not in p
           and "Python" not in p)], ""),
        ("platt_scaling",
         [("final plan is one aggregate pass with literal fitted "
           "params (fixed-round Newton: bounded driver state)",
           lambda p: "Python" not in p and "Join" not in p)], ""),
        ("roc_auc_rank",
         [("midrank machinery on the bounded cents grid only",
           lambda p: "Window" in p and "Python" not in p)], ""),
        ("jaro_winkler_match",
         [("one Arrow-batched pandas UDF eval (the intended Python "
           "boundary), no per-row F.udf, no joins",
           lambda p: "ArrowEvalPython" in p and "BatchEvalPython"
           not in p and "Join" not in p)], ""),
        ("hits_hubs_authorities",
         [("final plan reads checkpointed iteration results (lineage "
           "cut per round), keyed joins only",
           lambda p: "Scan ExistingRDD" in p and "Python" not in p)],
         ""),
        ("label_propagation",
         [("final roll-up over the checkpointed superstep labels",
           lambda p: "Scan ExistingRDD" in p and "Python" not in p)],
         ""),
        ("textrank_keywords",
         [("per-group top-k window over the checkpointed vocab-graph "
           "ranks (bounded by vocabulary, not corpus)",
           lambda p: "Scan ExistingRDD" in p and "Window" in p
           and "Python" not in p)], ""),
        ("dialog_act_mix",
         [("codegen'd regex tagging + one keyed aggregate, no joins",
           lambda p: "Join" not in p and "Python" not in p)], ""),
        ("context_window_fit",
         [("one reverse suffix window per conversation + keyed "
           "aggregate",
           lambda p: "Window" in p and "Python" not in p)], ""),
        ("chow_break_test",
         [("power-sum aggregates only: no windows, segment key join "
           "is a 1-row bounds broadcast",
           lambda p: "Window" not in p and "Python" not in p)], ""),
        ("nelson_aalen",
         [("risk-set and hazard windows on the bounded duration grid",
           lambda p: "Window" in p and "Python" not in p)], ""),
        ("g_test_gof",
         [("bounded slice x category grid; G terms in-row",
           lambda p: "Python" not in p)], ""),
        ("betabinomial_fit",
         [("per-unit aggregate + single-row MoM reduction",
           lambda p: "Python" not in p)], ""),
        ("engle_granger_coint",
         [("two OLS aggregate passes + one lag window on the hourly "
           "grid",
           lambda p: "Window" in p and "Python" not in p)], ""),
        ("newey_west_trend",
         [("bounded-lag HAC windows (L=4 config constant) over the "
           "hourly grid",
           lambda p: "Window" in p and "Python" not in p)], ""),
        ("breusch_pagan",
         [("two closed-form aggregate passes, residuals projected "
           "in-row",
           lambda p: "Python" not in p)], ""),
        ("hpa_replay",
         [("in-row fold over the bounded rollup series, no per-row "
           "Python",
           lambda p: "Python" not in p)], ""),
        ("slo_multiwindow_alert",
         [("four rolling-frame windows over one ordered pass",
           lambda p: "Window" in p and "Python" not in p)], ""),
        ("rbo_topk",
         [("rank windows + epoch-pair equi join on top-k rows only; "
           "suffix-weight lookup in-row",
           lambda p: "Window" in p and "Join" in p
           and "Python" not in p)], ""),
        ("mrr_eval",
         [("one rank window per query + reduction",
           lambda p: "Window" in p and "Python" not in p)], ""),
        ("expected_reciprocal_rank",
         [("cascade prefix product as a cumulative log-sum window "
           "(no fold)",
           lambda p: "Window" in p and "Python" not in p)], ""),
        ("sample_entropy",
         [("pairwise self-join restricted to the bounded rollup "
           "series (documented contract)",
           lambda p: "Join" in p and "Python" not in p)], ""),
        ("lz78_complexity",
         [("per-series in-row dictionary fold, no per-row Python",
           lambda p: "Python" not in p)], ""),
        ("canary_verdict",
         [("tie-corrected rank machinery on the bounded metric x "
           "cents grid",
           lambda p: "Window" in p and "Python" not in p)], ""),
        ("port_scan_detect",
         [("two keyed aggregates (window then source), no joins",
           lambda p: "Join" not in p and "Python" not in p)], ""),
        ("binseg_changepoints",
         [("prefix-sum windows + rank-1 argmax, splits rejoined as "
           "1-row aggregates (no driver state)",
           lambda p: "Window" in p and "Python" not in p)], ""),
        ("zip_mom_fit",
         [("grid-free (r5): nonzero-cell moments + two tiny distinct "
           "counts, closed-form MoM",
           lambda p: "Window" not in p and "Python" not in p)], ""),
        ("tail_dependence",
         [("exact count-logic quantiles on the bounded grid + one "
           "reduction",
           lambda p: "Window" in p and "Python" not in p)], ""),
        ("cochrans_q",
         [("zero-filled unit x item incidence; two keyed aggregates",
           lambda p: "Python" not in p)], ""),
        ("icc_oneway",
         [("one group aggregate + one reduction, ANOVA from power "
           "sums",
           lambda p: "Window" not in p and "Join" not in p
           and "Python" not in p)], ""),
        ("mcc_best_threshold",
         [("confusion sweep from two cumulative grid windows + "
           "rank-1 argmax",
           lambda p: "Window" in p and "Python" not in p),
          SWEEP_FRAME_CHECK], ""),
        ("speaker_dominance",
         [("gaps-and-islands run windows + keyed aggregates",
           lambda p: "Window" in p and "Python" not in p)], ""),
        ("adjacent_turn_overlap",
         [("in-row array set ops + one lead window, no posting "
           "lists",
           lambda p: "Window" in p and "Join" not in p
           and "Python" not in p)], ""),
        ("wilcoxon_signed_rank",
         [("midranks on the bounded |d| grid only",
           lambda p: "Window" in p and "Python" not in p)], ""),
        ("lindley_queue_replay",
         [("per-series in-row Lindley fold, no per-row Python",
           lambda p: "Python" not in p)], ""),
        ("skyline_pareto_front",
         [("sort-based cummax filter (one window + key join), NOT a "
           "quadratic dominance join",
           lambda p: "Window" in p and "Python" not in p)], ""),
        ("blocking_quality",
         [("pure count arithmetic (C(n,2) sums) — no pair ever "
           "materialized",
           lambda p: "Window" not in p and "Python" not in p)], ""),
        ("ewma_control_chart",
         [("per-series in-row EWMA fold + closed-form limits",
           lambda p: "Python" not in p)], ""),
        ("hill_diversity",
         [("two keyed aggregates, Hill numbers in-row",
           lambda p: "Window" not in p and "Python" not in p)], ""),
        ("s3_access_log_parse",
         [("single anchored regex, map-only",
           lambda p: "Join" not in p and "Window" not in p
           and "Python" not in p)], ""),
        ("diameter_double_sweep",
         [("final reduction over checkpointed BFS levels",
           lambda p: "Scan ExistingRDD" in p
           and "Python" not in p)], ""),
        ("graph_modularity",
         [("keyed community joins + single-row Q reduction over the "
           "checkpointed labeling",
           lambda p: "Join" in p and "Python" not in p)], ""),
        ("rich_club_coefficient",
         [("degree-joined bounded-k grid, no quadratic scan",
           lambda p: "Join" in p and "Python" not in p)], ""),
        ("kneser_ney_bigram",
         [("three counting aggregates + one join; vocabulary-bounded",
           lambda p: "Join" in p and "Python" not in p)], ""),
        ("shard_rebalance_plan",
         [("prefix-interval windows + one overlap join bounded by "
           "shard count",
           lambda p: "Window" in p and "Python" not in p)], ""),
        ("bloom_size_advisor",
         [("one distinct aggregate; sizing math in-row",
           lambda p: "Window" not in p and "Python" not in p)], ""),
        ("otsu_threshold",
         [("cumulative grid windows + rank-1 argmax (9dp rounded)",
           lambda p: "Window" in p and "Python" not in p)], ""),
        ("kde_modes",
         [("bounded grid x cents-grid kernel join; modes via "
           "lag/lead windows",
           lambda p: "Join" in p and "Window" in p
           and "Python" not in p)], ""),
        ("rank_aggregation",
         [("per-judge rank windows + bounded object-pair duel join",
           lambda p: "Window" in p and "Join" in p
           and "Python" not in p)], ""),
        ("topo_layers",
         [("final histogram over checkpointed superstep layers",
           lambda p: "Scan ExistingRDD" in p
           and "Python" not in p)], ""),
        ("markov_stationary",
         [("power iteration over the |S|^2-bounded matrix; final "
           "join against checkpointed pi",
           lambda p: "Scan ExistingRDD" in p
           and "Python" not in p)], ""),
        ("getis_ord_hotspots",
         [("bounded-grid neighborhood self-join + one reduction",
           lambda p: "Join" in p and "Python" not in p)], ""),
        ("anderson_darling_uniform",
         [("exact tie-block rank sums on the bounded grid; ranks "
           "never touch raw rows",
           lambda p: "Window" in p and "Python" not in p)], ""),
        ("kupiec_var_backtest",
         [("single aggregate; LR in closed form",
           lambda p: "Window" not in p and "Join" not in p
           and "Python" not in p)], ""),
        ("max_drawdown",
         [("cummax window + rank-1 argmax over the checkpointed "
           "series",
           lambda p: "Window" in p and "Python" not in p)], ""),
        ("leaky_bucket_replay",
         [("per-series in-row fold, no per-row Python",
           lambda p: "Python" not in p)], ""),
        ("graph_reciprocity",
         [("one semi-join on the reversed key + scalar reductions, "
           "fully in-plan",
           lambda p: "Join" in p and "Python" not in p)], ""),
        ("auc_hanley_ci",
         [("cents-grid midrank machinery + closed-form SE",
           lambda p: "Window" in p and "Python" not in p)], ""),
        ("ratio_metric_ci",
         [("per-unit aggregate + one moment reduction",
           lambda p: "Window" not in p and "Python" not in p)], ""),
        ("relative_risk_ci",
         [("single 2x2 aggregate; Katz CIs in-row",
           lambda p: "Window" not in p and "Join" not in p
           and "Python" not in p)], ""),
        ("fisher_price_index",
         [("bounded period x item cells; one item self-join",
           lambda p: "Join" in p and "Python" not in p)], ""),
        ("circular_stats_hours",
         [("one sin/cos aggregate; direction math in-row",
           lambda p: "Window" not in p and "Join" not in p
           and "Python" not in p)], ""),
        ("runlength_geometric",
         [("gaps-and-islands windows + bounded run-length histogram",
           lambda p: "Window" in p and "Python" not in p)], ""),
        ("person_time_incidence",
         [("per-unit exposure aggregate + one reduction",
           lambda p: "Window" not in p and "Python" not in p)], ""),
        ("bass_diffusion",
         [("one cumulative window + power-sum pass; Cramer in-row",
           lambda p: "Window" in p and "Python" not in p)], ""),
        ("seasonal_mann_kendall",
         [("within-season pairwise join on the bounded daily grid",
           lambda p: "Join" in p and "Python" not in p)], ""),
        ("l_moments",
         [("hockey-stick block sums on the value grid; never ranks "
           "raw rows",
           lambda p: "Window" in p and "Python" not in p)], ""),
        ("pinball_loss_eval",
         [("bounded collect_list frames (window is a config "
           "constant) + reductions",
           lambda p: "Window" in p and "Python" not in p)], ""),
        ("crps_empirical",
         [("bounded within-group member self-join for E|X-X'|",
           lambda p: "Join" in p and "Python" not in p)], ""),
        ("tracking_signal",
         [("two cumulative windows, flags in-row",
           lambda p: "Window" in p and "Python" not in p)], ""),
        ("msprt_always_valid",
         [("one cumulative-sum window -> whole Lambda trajectory",
           lambda p: "Window" in p and "Python" not in p)], ""),
        ("decision_curve_net_benefit",
         [("MCC-sweep confusion windows + bounded threshold list",
           lambda p: "Window" in p and "Python" not in p),
          SWEEP_FRAME_CHECK], ""),
        ("auditd_parse",
         [("envelope regex + per-key anchored extraction, map-only",
           lambda p: "Join" not in p and "Window" not in p
           and "Python" not in p)], ""),
        ("spectral_flatness",
         [("bounded period-grid x series join; one reduction",
           lambda p: "Join" in p and "Python" not in p)], ""),
        ("hmm_forward_loglik",
         [("per-series scaled-forward fold, no per-row Python",
           lambda p: "Python" not in p)], ""),
        ("mondrian_partition",
         [("count-logic medians on bounded grids + threshold joins",
           lambda p: "Window" in p and "Python" not in p)], ""),
        ("partial_correlation",
         [("one moment pass, algebra in-row",
           lambda p: "Window" not in p and "Python" not in p)], ""),
        ("ledoit_wolf_shrinkage",
         [("|items|^2-bounded pair aggregates; zero-fill via pivot, "
           "NO hours x types grid crossJoin",
           lambda p: "Join" in p and "Python" not in p
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
           and "SortMergeJoin" not in p and "Python" not in p)], ""),
        ("croston_intermittent",
         [("sparse demand-point fold: nested-loop joins only for "
           "1-row n_periods broadcast (no cohorts x days grid)",
           lambda p: p.count("BroadcastNestedLoopJoin") <= 2
           and "CartesianProduct" not in p
           and "SortMergeJoin" not in p and "Python" not in p)], ""),
        ("zip_mom_fit",
         [("sparse moments: nested-loop joins only for two 1-row "
           "aggregate broadcasts (no users x days grid)",
           lambda p: p.count("BroadcastNestedLoopJoin") <= 4
           and "CartesianProduct" not in p
           and "SortMergeJoin" not in p and "Python" not in p)], ""),
        ("poisson_scan_statistic",
         [("bounded rolling frames + rank-1 argmax",
           lambda p: "Window" in p and "Python" not in p)], ""),
        ("grey_gm11_forecast",
         [("one cumulative window + closed-form 2x2 OLS + bounded "
           "horizon explode",
           lambda p: "Window" in p and "Python" not in p)], ""),
        ("energy_distance",
         [("grid x grid weighted joins, never row-level pairs",
           lambda p: "Join" in p and "Python" not in p)], ""),
        ("biweight_midvariance",
         [("count-logic median/MAD + one weighted grid aggregate",
           lambda p: "Window" in p and "Python" not in p)], ""),
        ("cascade_failure_sim",
         [("literal history table from bounded per-round scalars "
           "(no Python RDD scan)",
           lambda p: "Python" not in p)], ""),
        ("k_truss",
         [("final support join over checkpointed peeled edges",
           lambda p: "Join" in p and "Python" not in p)], ""),
        ("histogram_bin_advisor",
         [("one grid pass + count-logic quartiles",
           lambda p: "Window" in p and "Python" not in p)], ""),
        ("youden_j_threshold",
         [("cents-grid confusion sweep + rank-1 argmax",
           lambda p: "Window" in p and "Python" not in p),
          SWEEP_FRAME_CHECK], ""),
        ("surprisal_outliers",
         [("bounded cell grid + top-k rank window",
           lambda p: "Window" in p and "Python" not in p)], ""),
        ("cmh_test",
         [("stratum-keyed 2x2 aggregate + single-row MH pooling",
           lambda p: "Python" not in p)], ""),
        ("markov_absorption",
         [("pivoted one-row transition table + in-row 3x3 Cramer, "
           "no iteration",
           lambda p: "Python" not in p)], ""),
        ("hodges_lehmann_shift",
         [("grid x grid difference weights + one cumulative window; "
           "never row pairs",
           lambda p: "Window" in p and "Python" not in p)], ""),
        ("postgres_log_parse",
         [("anchored envelope + duration regexes, map-only",
           lambda p: "Join" not in p and "Window" not in p
           and "Python" not in p)], ""),
        ("tukey_nonadditivity",
         [("bounded two-way grid aggregates + single reduction",
           lambda p: "Python" not in p)], ""),
        ("sbg_retention_forecast",
         [("cohort survival aggregate + bounded horizon explode; "
           "telescoping product in-row",
           lambda p: "Python" not in p)], ""),
        ("bland_altman",
         [("two map-side moment passes (limits need global moments)",
           lambda p: "Python" not in p)], ""),
        ("yuen_trimmed_t",
         [("exact boundary-weighted winsorization on the per-group "
           "cents grid",
           lambda p: "Window" in p and "Python" not in p)], ""),
        ("ruin_probability",
         [("one claim-moment aggregate + bounded reserve grid",
           lambda p: "Window" not in p and "Python" not in p)], ""),
        ("topsis_ranking",
         [("bounded alt x criteria matrix aggregates throughout",
           lambda p: "Join" in p and "Python" not in p)], ""),
        ("hawkes_branching_ratio",
         [("bucket-count aggregate + moment reduction per group",
           lambda p: "Window" not in p and "Python" not in p)], ""),
        ("taylor_fluctuation_scaling",
         [("per-stream moments + closed-form log-log OLS",
           lambda p: "Window" not in p and "Python" not in p)], ""),
        ("jackknife_richness",
         [("two counting aggregates; estimators in-row",
           lambda p: "Window" not in p and "Python" not in p)], ""),
        ("seasonal_sen_slope",
         [("within-season pairwise join on the bounded daily grid; "
           "weighted median over the slope grid",
           lambda p: "Join" in p and "Window" in p
           and "Python" not in p)], ""),
        ("abc_classification",
         [("one rank/cumulative window on the bounded item table",
           lambda p: "Window" in p and "Python" not in p)], ""),
    ]:
        all_ok &= audit(
            nm, (lambda nm: lambda: queries()[nm](spark, SF_DIR))(nm),
            checks, out, notes, spark=spark,
        )

    with open("PLANS.md", "w") as f:
        f.write(
            "# Physical plan audit (generated by scripts/audit_plans.py)\n\n"
            "Structural assertions on `explain('formatted')` output for the\n"
            "plans that matter at 100 TB. Regenerate after plan changes.\n\n"
        )
        for name, p, n_ex, n_cg, results, notes in out:
            f.write(f"## {name}\n\n")
            f.write(f"Exchanges: {n_ex} · WholeStageCodegen spans: {n_cg}\n\n")
            for desc, ok in results:
                f.write(f"- [{'x' if ok else ' '}] {desc}\n")
            if notes:
                f.write(f"\n_{notes}_\n")
            f.write("\n```\n")
            f.write(p[:3000])
            f.write("\n```\n\n")
    print("wrote PLANS.md")
    if _FAILED:
        print("FAILED AUDITS:", _FAILED)
    sys.exit(0 if all_ok else 1)


if __name__ == "__main__":
    main()
