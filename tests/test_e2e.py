"""End-to-end invariants (BASELINE.json north rule, matching the
reference's golden-test comparison style, tests/testutils/golden.go:
order-insensitive set equality + aggregate count equality + explicitly
ordered per-turn text check):

1. routed-row SET equality per sink vs an independent pandas oracle,
2. per-sink aggregate count equality,
3. per-turn text equality under stable turn ordering,
4. invariance across parallelism (partition counts),
5. snapshot resume: full run == incremental runs, row-for-row.
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from sparkcollector.checkpoint import SnapshotCatalog
from sparkcollector.job import build_pipeline, run_pipeline
from sparkcollector.parse import CALL_RE, SPAN_RE


def _oracle_sinks(turns_pdf):
    """Independent pandas implementation of parse+route (the oracle)."""
    def nocap(pat: str) -> str:
        return re.sub(r"(?<!\\)\((?!\?)", "(?:", pat)

    call = turns_pdf.text.str.contains(nocap(CALL_RE))
    span = turns_pdf.text.str.contains(nocap(SPAN_RE))
    tool_ok = turns_pdf.tool != "none"
    sink = span.map({True: "traces"}).fillna("")
    out = []
    for i in range(len(turns_pdf)):
        if span.iat[i]:
            out.append("traces")
        elif call.iat[i] and tool_ok.iat[i]:
            out.append("metrics")
        else:
            out.append("events")
    return out


@pytest.fixture(scope="module")
def routed_rows(turns_df):
    routed = build_pipeline(turns_df)
    return routed.select("conv_id", "turn_idx", "text", "sink").collect()


def test_routed_row_set_equality_vs_oracle(routed_rows, turns_pdf):
    expected = {
        (r.conv_id, int(r.turn_idx), s)
        for r, s in zip(turns_pdf.itertuples(), _oracle_sinks(turns_pdf))
    }
    got = {(r["conv_id"], r["turn_idx"], r["sink"]) for r in routed_rows}
    assert got == expected


def test_per_sink_count_equality(routed_rows, turns_pdf):
    import collections

    expected = collections.Counter(_oracle_sinks(turns_pdf))
    got = collections.Counter(r["sink"] for r in routed_rows)
    assert got == expected


def test_per_turn_text_equality_stable_order(routed_rows, turns_pdf):
    exp = turns_pdf.sort_values(["conv_id", "turn_idx"])
    got = sorted(routed_rows, key=lambda r: (r["conv_id"], r["turn_idx"]))
    assert [r["text"] for r in got] == list(exp.text)
    assert [(r["conv_id"], r["turn_idx"]) for r in got] == list(
        zip(exp.conv_id, exp.turn_idx)
    )


def test_invariant_across_parallelism(turns_df, routed_rows):
    alt = build_pipeline(turns_df, order_partitions=3)
    got = {
        (r["conv_id"], r["turn_idx"], r["sink"])
        for r in alt.select("conv_id", "turn_idx", "sink").collect()
    }
    base = {(r["conv_id"], r["turn_idx"], r["sink"]) for r in routed_rows}
    assert got == base


def test_ordering_within_written_partitions(spark, turns_df, tmp_path):
    """Every written routed file must be physically ordered by
    (conv_id, turn_idx) — ordering from sortWithinPartitions, never
    from task scheduling."""
    import glob

    import pyarrow.parquet as pq

    m = run_pipeline(
        spark,
        turns_df.inputFiles()[0].replace("file:", ""),
        str(tmp_path / "out"),
    )
    assert m["turns"] == turns_df.count()
    assert (
        m["sink_metrics_rows"] + m["sink_events_rows"] + m["sink_traces_rows"]
        == m["turns"]
    )
    files = glob.glob(
        str(tmp_path / "out" / "routed" / "data-*" / "sink=*" / "*.parquet")
    )
    assert files
    for f in files:
        t = pq.read_table(f, columns=["conv_id", "turn_idx"]).to_pandas()
        key = list(zip(t.conv_id, t.turn_idx))
        assert key == sorted(key), f


def test_read_sink_projection(spark, turns_df, tmp_path):
    from sparkcollector.job import read_sink

    run_pipeline(
        spark,
        turns_df.inputFiles()[0].replace("file:", ""),
        str(tmp_path / "out"),
    )
    ev = read_sink(spark, str(tmp_path / "out"), "events")
    assert set(ev.columns) == {
        "ts", "severity", "body", "source", "sourcetype", "conv_id", "turn_idx",
    }
    assert ev.count() > 0


def test_fanout_strategy_counts_match(spark, turns_df, tmp_path):
    m1 = run_pipeline(
        spark, turns_df.inputFiles()[0].replace("file:", ""),
        str(tmp_path / "o1"), strategy="partitioned",
    )
    m2 = run_pipeline(
        spark, turns_df.inputFiles()[0].replace("file:", ""),
        str(tmp_path / "o2"), strategy="fanout",
    )
    for k in ("sink_metrics_rows", "sink_events_rows", "sink_traces_rows", "turns"):
        assert m1[k] == m2[k], k


def test_snapshot_resume_full_equals_incremental(spark, turns_df, tmp_path):
    src = SnapshotCatalog(str(tmp_path / "src"))
    half = turns_df.count() // 2
    w = turns_df.orderBy("conv_id", "turn_idx")
    src.append(w.limit(half))
    src.append(w.subtract(w.limit(half)))

    full = build_pipeline(src.read(spark))
    inc1 = build_pipeline(src.read_since(spark, 0).filter(F.lit(True)))
    n_full = full.count()
    assert n_full == turns_df.count()

    # resume: consumer processed snapshot 1, restarts, reads only snap 2
    resumed = build_pipeline(src.read_since(spark, 1))
    first = build_pipeline(src.read_since(spark, 0)).count()
    assert resumed.count() + half == first


def test_bucketed_input_shuffle_free_pipeline(spark, turns_df, tmp_path):
    """The production-layout path: a conv_id-bucketed input table
    (Iceberg bucket-transform stand-in) runs the pipeline with ZERO
    shuffle exchanges, yields identical per-sink counts and routed-row
    sets, keeps every conversation whole inside one task partition,
    and writes files physically ordered by (conv_id, turn_idx)."""
    import glob
    import re

    import pyarrow.parquet as pq

    from pyspark.sql import functions as F

    from sparkcollector.synth import write_bucketed_table

    flat = turns_df.inputFiles()[0].replace("file:", "")
    loc = str(tmp_path / "bucketed")
    write_bucketed_table(spark, flat, loc, buckets=8)

    # plan shape: no shuffle exchange anywhere (broadcasts are fine)
    spark.conf.set(
        "spark.sql.sources.bucketing.autoBucketedScan.enabled", "false"
    )
    routed = build_pipeline(
        spark.table("transcripts_bucketed"),
        sort_prefix=("sink",),
        prepartitioned=True,
    )
    plan = routed._jdf.queryExecution().executedPlan().toString()
    assert not re.search(r"Exchange (hash|range|SinglePartition|RoundRobin)", plan), plan

    # conversation-wholeness straight off the scan
    nparts = (
        spark.table("transcripts_bucketed")
        .withColumn("pid", F.spark_partition_id())
        .groupBy("conv_id")
        .agg(F.countDistinct("pid").alias("np"))
        .agg(F.max("np"))
        .collect()[0][0]
    )
    assert nparts == 1

    m_flat = run_pipeline(spark, flat, str(tmp_path / "out_flat"))
    m_bkt = run_pipeline(
        spark, None, str(tmp_path / "out_bkt"), bucketed_input=loc, buckets=8
    )
    for k in ("turns", "sink_metrics_rows", "sink_events_rows", "sink_traces_rows"):
        assert m_bkt[k] == m_flat[k], k

    files = glob.glob(
        str(tmp_path / "out_bkt" / "routed" / "data-*" / "sink=*" / "*.parquet")
    )
    assert files
    for f in files:
        t = pq.read_table(f, columns=["conv_id", "turn_idx"]).to_pandas()
        key = list(zip(t.conv_id, t.turn_idx))
        assert key == sorted(key), f

    # routed-row set equality between the two layouts
    a = spark.read.parquet(str(tmp_path / "out_flat" / "routed" / "data-*"))
    b = spark.read.parquet(str(tmp_path / "out_bkt" / "routed" / "data-*"))
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_cli_run_query_surface(spark, capsys, monkeypatch):
    """`python -m sparkcollector.job --run-query NAME` runs any registry
    query and prints JSON (list mode enumerates the registry)."""
    import json as _json

    from sparkcollector import job as jobmod

    monkeypatch.setattr(
        "sys.argv",
        ["job", "--run-query", "list"],
    )
    jobmod.main()
    names = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert "dedup_exact" in names and len(names) >= 100

    monkeypatch.setattr(
        "sys.argv",
        ["job", "--run-query", "severity_map_counts",
         "--sf-dir", "/root/testdata/sf0.001", "--limit", "2"],
    )
    jobmod.main()
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["query"] == "severity_map_counts"
    assert out["rows"] > 0 and len(out["sample"]) <= 2
