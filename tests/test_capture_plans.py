"""scripts/capture_plans.py masks Spark's global plan counters, so two
captures of one commit are byte-identical."""

from __future__ import annotations

import re
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "scripts"))

from capture_plans import formatted_plan, mask_plan_ids  # noqa: E402


def test_plan_ids_are_masked_and_nothing_else():
    a = (
        "Arguments: hashpartitioning(item#12, 4), ENSURE_REQUIREMENTS, [plan_id=117]\n"
        "Arguments: HashedRelationBroadcastMode(List(...),false), [plan_id=9]\n"
        "(3) Scan parquet  my_plan_id=5\n"
    )
    b = a.replace("plan_id=117", "plan_id=4").replace("[plan_id=9]", "[plan_id=2031]")
    assert mask_plan_ids(a) == mask_plan_ids(b) == (
        "Arguments: hashpartitioning(item#12, 4), ENSURE_REQUIREMENTS, [plan_id=#]\n"
        "Arguments: HashedRelationBroadcastMode(List(...),false), [plan_id=#]\n"
        "(3) Scan parquet  my_plan_id=5\n"
    )


def test_the_formatted_plan_has_its_plan_ids_masked(spark):
    """Spark's own formatting of an exchange carries the counter."""
    txt = formatted_plan(spark, spark.range(100).repartition(4, "id"))
    assert "[plan_id=#]" in txt
    assert re.search(r"plan_id=\d", txt) is None
