"""Shuffle-byte budget gate: every batch registry query must stay
within its committed shuffle-byte budget at sf0.01.

The plan-shape gate (test_plans.py) catches categorical regressions —
cartesian products, Python row UDFs — but not a QUIET extra shuffle
that doubles exchanged bytes while keeping the plan shape legal; at
100 TB that doubling is the difference between a job that finishes
and one that doesn't. Budgets live in tests/plan_budgets.json
(max(1.5x measured, 256 KiB) per query); after an INTENTIONAL plan
change, regenerate with

    python tools/query_metrics.py /root/testdata/sf0.01 \
        --budgets tests/plan_budgets.json

and commit the diff — the review of that diff IS the budget review.
"""

from __future__ import annotations

import json
import os

import pytest

from tools.query_metrics import measure_query

_BUDGET_PATH = os.path.join(os.path.dirname(__file__), "plan_budgets.json")

# budgets are measured at sf0.01 (not the suite-wide sf0.001 fixture):
# at sf0.001 many shuffles round to a handful of bytes and the
# headroom factor loses meaning
_BUDGET_SF_DIR = "/root/testdata/sf0.01"


def _budgets() -> dict[str, int]:
    with open(_BUDGET_PATH) as f:
        return json.load(f)["budgets"]


def _gated_queries():
    # streaming_* queries ARE included: their memory-sink micro-batches
    # register SQL executions like any batch query, so their shuffle
    # bytes measure and budget the same way — a committed budget that
    # the gate never enforced would imply coverage that doesn't exist
    from nbody6_data_pipeline_spark.queries import registry

    return sorted(registry())


def test_every_batch_query_has_a_budget():
    missing = [q for q in _gated_queries() if q not in _budgets()]
    assert not missing, (
        f"no shuffle budget recorded for {missing} — run "
        "tools/query_metrics.py --budgets and commit the result"
    )


@pytest.mark.parametrize("name", _gated_queries())
def test_shuffle_bytes_within_budget(spark, name):
    budget = _budgets().get(name)
    if budget is None:
        pytest.fail(f"{name}: no committed budget")
    from nbody6_data_pipeline_spark.queries import registry

    rec = measure_query(spark, registry()[name]["spark"], _BUDGET_SF_DIR)
    assert rec["shuffle_bytes"] <= budget, (
        f"{name} shuffled {rec['shuffle_bytes']:,} bytes at sf0.01, "
        f"budget {budget:,} — a quiet plan regression (or an "
        "intentional change needing a budget regen + review)"
    )
    # sf0.01 on a 128 GiB box must never spill: any nonzero spill here
    # means an operator materializes something data-sized per task —
    # a certain OOM/spill storm at production scale
    assert rec["spill_bytes"] == 0, (
        f"{name} spilled {rec['spill_bytes']:,} bytes at sf0.01"
    )
