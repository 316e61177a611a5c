"""Physical-plan gate: no registered batch query may compile to a
scale-breaking plan shape (cartesian product, row-at-a-time Python
UDF, global single-partition window over unreduced input).

This is tools/explain_audit.py's hard-flag check promoted to a
perpetual pytest gate, so a plan regression fails the suite the day
it is introduced instead of waiting for a manual audit run."""

from __future__ import annotations

import pytest

from tools.explain_audit import audit_plan


def _batch_queries():
    from nbody6_data_pipeline_spark.queries import registry

    return sorted(
        (name, spec)
        for name, spec in registry().items()
        if not name.startswith("streaming_")
    )


@pytest.mark.parametrize(
    "name,spec", _batch_queries(), ids=lambda x: x if isinstance(x, str) else ""
)
def test_plan_has_no_hard_flags(spark, sf_dir, name, spec):
    df = spec["spark"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    hard, _soft = audit_plan(plan)
    assert not hard, f"{name}: {hard}"


def test_metric_size_parser():
    from tools.query_metrics import parse_bytes

    assert parse_bytes("12.1 KiB") == int(12.1 * 1024)
    assert parse_bytes(
        "total (min, med, max (stageId: taskId))\n5.3 KiB (168.0 B, ...)"
    ) == int(5.3 * 1024)
    assert parse_bytes("0.0 B") == 0
    assert parse_bytes("no size here") == 0
    assert parse_bytes("1,234.5 MiB") == int(1234.5 * 2**20)


# Positive plan-quality evidence: per-group top-k queries must compile
# with WindowGroupLimit — Spark's partial top-k pushdown that filters
# each partition to its local top-k BEFORE the rank window's shuffle.
# Without it, a rank()<=k filter still shuffles and sorts EVERY row of
# every group; at 100 TB that is the difference between moving k rows
# per group and moving the corpus.
_GROUP_TOPK_QUERIES = [
    "doc_bm25_topk",
    "session_top_paths",
    "embedding_cosine_topk",
    "doc_priority_sample",
    # embedding_sq8_topk is deliberately absent: its filter is a
    # DISJUNCTION of two different rank columns (r8 <= k OR re <= k —
    # recall measurement needs both rankings), which WindowGroupLimit
    # cannot push; each side alone would qualify.
]


@pytest.mark.parametrize("name", _GROUP_TOPK_QUERIES)
def test_group_topk_plans_use_window_group_limit(spark, sf_dir, name):
    from nbody6_data_pipeline_spark.queries import registry

    df = registry()[name]["spark"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan, (
        f"{name}: rank<=k filter did not push down to WindowGroupLimit"
    )


def test_global_topk_plan_uses_take_ordered(spark, sf_dir):
    """Global top-k must compile to TakeOrderedAndProject (per-partition
    heap + driver merge of k rows), not a full sort."""
    from nbody6_data_pipeline_spark.queries import registry

    df = registry()["top_k_orders"]["spark"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
