"""The plan audit's invariants (``scripts/audit_plans.py``): each bad
fixture breaks its own invariant and no other, and the plans of the
confusion sweep and the pipeline break none."""

from __future__ import annotations

import importlib.util
import pathlib


def _audit_module():
    spec = importlib.util.spec_from_file_location(
        "audit_plans",
        pathlib.Path(__file__).parent.parent / "scripts" / "audit_plans.py",
    )
    audit = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(audit)
    return audit


def test_plan_invariants_reject_bad_fixtures_and_accept_product_plans(
    spark, turns_df
):
    from pyspark.sql import functions as F

    from sparkcollector.config import compile_pipeline
    from sparkcollector.operators.analytics import (
        decision_curve_net_benefit,
        mcc_best_threshold,
        youden_j_threshold,
    )

    audit = _audit_module()
    fixtures = audit.bad_fixtures(spark, turns_df)
    assert {inv for inv, _, _ in fixtures} == set(audit.INVARIANTS)
    for inv, desc, bad in fixtures:
        assert audit.broken_invariants(bad)[0] == {inv}, desc

    df = spark.createDataFrame(
        [(i / 100.0, i % 2) for i in range(100)], "s double, y int"
    )
    s, y = F.col("s"), F.col("y")
    for good in (
        mcc_best_threshold(df, s, y),
        youden_j_threshold(df, s, y),
        decision_curve_net_benefit(df, s, y, [0.1, 0.5]),
        compile_pipeline()(turns_df),
    ):
        broken, n_codegen = audit.broken_invariants(good)
        assert broken == set() and n_codegen >= 1
