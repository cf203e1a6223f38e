"""Registry-wide physical-plan audit — the 100 TB discipline as CI.

Two invariants every registered query must hold, regardless of what it
computes:

- NO CartesianProduct: the module contract ("never an O(n²) cross join")
  enforced mechanically. Scalar broadcasts compile to
  BroadcastNestedLoopJoin over 1-row sides, which is fine and distinct.
- NO BatchEvalPython: row-at-a-time Python UDFs are banned from every
  plan; Python is only ever Arrow-batched (ArrowEvalPython /
  MapInPandas / FlatMapGroupsInPandas), which the audit permits.

Plus a codegen floor: the named heavy queries must contain WholeStageCodegen
spans (the hot path stays JVM-side), and a size guard: the registry fits
the driver's 50-entry correctness window.

Planning only — queries are analyzed and physically planned at the smoke
SF, not executed (construction-time driver work like sink writes still
runs, which is what the registry queries do under the driver anyway).
"""

from __future__ import annotations

import os

import pytest

SF_DIR = os.environ.get("SPARK_GRAFT_AUDIT_SF", "/root/testdata/sf0.001")

_CODEGEN_REQUIRED = [
    "pricing_summary", "dim_join_rollup", "topk_per_group",
    "dedup_policies", "minhash_neardup", "simhash_neardup", "ann_topk",
    "embedding_neardup", "fingerprint_dedup", "text_metrics",
    "proximity_join", "url_priority_rank",
]


def _registry():
    import __spark_entry__ as entry

    return entry.queries()


def test_registry_fits_driver_correctness_window():
    # the driver's correctness gate checks only the first 50 registry
    # entries; a query registered past that window is never certified
    n = len(_registry())
    assert n <= 50, (
        f"{n} registry entries: the driver's correctness gate checks only "
        f"the first 50, so entries 51-{n} would never be certified; fold "
        "new kernels into an existing tagged-union composite instead"
    )


@pytest.fixture(scope="module")
def plans(spark):
    out = {}
    for name, fn in _registry().items():
        df = fn(spark, SF_DIR)
        out[name] = df._jdf.queryExecution().executedPlan().toString()
    return out


def test_no_cartesian_product_anywhere(plans):
    bad = [n for n, p in plans.items() if "CartesianProduct" in p]
    assert not bad, f"CartesianProduct in: {bad}"


def test_no_row_at_a_time_python_anywhere(plans):
    bad = [n for n, p in plans.items() if "BatchEvalPython" in p]
    assert not bad, f"row-at-a-time Python UDF in: {bad}"


def test_heavy_queries_keep_wholestage_codegen(spark):
    # AQE wraps stages lazily, so an AdaptiveSparkPlan hides codegen
    # labels until execution; whether an operator is codegen-able is
    # AQE-independent, so plan the audit with AQE off and read the spans
    # directly
    reg = _registry()
    missing = []
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        for name in _CODEGEN_REQUIRED:
            df = reg[name](spark, SF_DIR)
            plan = df._jdf.queryExecution().executedPlan().toString()
            # codegen stages print as "*(N) Operator" stars in toString
            if "*(" not in plan:
                missing.append(name)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert not missing, f"no WholeStageCodegen span in: {missing}"
