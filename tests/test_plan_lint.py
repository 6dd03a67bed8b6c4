"""Plan-lint rule tests: pins that each rule of tests/plan_lint.py fires
where it should, and that its exemption tables stay current. The rules run
on every registered key's sf0.01 plan in tests/test_oracle_parity.py, so a
future wave that introduces a CartesianProduct, a scan-scale
single-partition exchange, or an unexplained shuffle explosion fails there,
not in a 100 TB incident.
"""

from __future__ import annotations

import pytest

from tests.conftest import SF001
from tests.harness import executed_plan
from tests.plan_lint import R3_EXEMPT, R4_ENFORCED, _r4_ok, lint_plan


def test_r3_exemptions_not_stale(registry):
    """Every exempted key must still be registered — a removed query
    leaves the table so the exemption cannot mask a future key reusing
    its name."""
    stale = [k for k in R3_EXEMPT if k not in registry]
    assert not stale, f"exempted keys no longer registered: {stale}"


@pytest.mark.parametrize("key", ["q_agg_mann_whitney", "q_win_percent_rank"])
def test_global_rank_rewrites_have_no_single_partition_scan(
    spark, registry, key
):
    """Pin the r6 rewrites: the distributed-rank formulations must never
    regress to an unpartitioned window over the scan."""
    plan = executed_plan(registry[key].builder(spark, SF001))
    assert not [v for v in lint_plan(plan) if v.startswith(("R1", "R2"))], plan


@pytest.mark.parametrize(
    "key", ["q_win_queue_percentiles", "q_win_littles_law"]
)
def test_sweep_line_family_grain_bounded(spark, registry, key):
    """The W34/W38 sweep-line keys DO run unpartitioned cumulative windows
    (that's the algorithm); pin that (a) R4 fires — the rule is exercised,
    not vacuous — and (b) every such window consumes a calendar-grain
    aggregate, so the WindowExec single-partition warning is provably
    benign: cardinality is the day span, not the row count."""
    plan = executed_plan(registry[key].builder(spark, SF001))
    r4 = [v for v in lint_plan(plan) if v.startswith("R4")]
    assert r4, f"{key}: expected an unpartitioned sweep-line window"
    bad = [v for v in r4 if not _r4_ok(v)]
    assert not bad, f"{key}: non-grain-bounded global window: {bad}"


def test_r4_enforced_family_members_flagged(spark, registry):
    """Each enforced sweep-line key must actually produce an R4 report
    (otherwise the gate is vacuous) and pass the grain check."""
    for key in sorted(R4_ENFORCED):
        plan = executed_plan(registry[key].builder(spark, SF001))
        r4 = [v for v in lint_plan(plan) if v.startswith("R4")]
        assert r4, f"{key}: no unpartitioned window found — stale entry?"
        bad = [v for v in r4 if not _r4_ok(v)]
        assert not bad, f"{key}: {bad}"


def test_r5_fires_on_unpruned_scan_explode():
    """R5 must detect a Generate over a bare scan column whose scan lost
    the IsNotNull pushdown (what InferFiltersFromGenerate used to add) —
    exercised on a synthetic plan so the rule is provably not vacuous."""
    bad = """AdaptiveSparkPlan isFinalPlan=false
+- Generate explode(embedding#1), [vec_id#0L], false, [e#9]
   +- FileScan parquet [vec_id#0L,embedding#1] Batched: false, PushedFilters: [], ReadSchema: struct<vec_id:bigint,embedding:array<float>>
"""
    assert "R5:unpruned-explode-of-scan-column=embedding" in lint_plan(bad)
    good = bad.replace(
        "PushedFilters: []", "PushedFilters: [IsNotNull(embedding)]"
    )
    assert not [v for v in lint_plan(good) if v.startswith("R5")]
