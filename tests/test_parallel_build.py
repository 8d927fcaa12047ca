"""Determinism pin for the suite's pooled branch build (VERDICT r15 #5).

The 13 llm_curation_suite branches build on a driver thread pool; the union
composes completed branches in a FIXED order, so the composed plan must be
identical run-to-run regardless of thread scheduling. Catalyst's
``sameResult`` (canonicalized plan equality) is the check — a py4j race or
an order leak would produce a differing plan long before it produced a
wrong row.

Kept on an interleaved min-of-4 A/B receipt (r16, healthy box, warm JVM):
pool 5.162/5.095 s vs serial 5.392/5.526 s across two sessions — a
consistent 4-8% min-of-4 win (OPTIMIZATION_r16.md).
"""

from __future__ import annotations

import __spark_entry__ as entrymod
from tern_ep_data_pipeline_spark.operators.dedup import release_staged


def test_pooled_suite_build_plan_deterministic(spark, sf_dir):
    plans = []
    for _ in range(3):
        df = entrymod.q_llm_curation_suite(spark, sf_dir)
        plans.append(df._jdf.queryExecution().analyzed())
        release_staged(spark)
    assert plans[0].sameResult(plans[1])
    assert plans[1].sameResult(plans[2])
