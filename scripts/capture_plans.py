"""Capture .explain("formatted") for named queries into plans/r15/.

Usage: python scripts/capture_plans.py <suffix> <query> [query ...]
Writes plans/r15/<query>_<suffix>.txt for each query.

Spark's global ``plan_id=N`` counters are masked to ``plan_id=#``: they
count every plan the session has built, so a query that runs jobs while
its frame is built would otherwise differ from one capture to the next.

Note: for queries that execute work at build time (the streaming
queries run their staged pipelines inside fn()), the captured plan is
the SERVED frame's plan; the build-time pipeline is documented in
OPTIMIZATION_r15.md instead.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from wikidatabots_spark import plans  # noqa: E402
from wikidatabots_spark.session import get_spark  # noqa: E402


_PLAN_ID = re.compile(r"\bplan_id=\d+")


def mask_plan_ids(txt: str) -> str:
    """Replace each ``plan_id=N`` with ``plan_id=#``."""
    return _PLAN_ID.sub("plan_id=#", txt)


def formatted_plan(spark, df) -> str:
    """``df.explain("formatted")`` as text, plan ids masked."""
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    return mask_plan_ids(df._jdf.queryExecution().explainString(mode))


def main() -> None:
    suffix = sys.argv[1]
    names = sys.argv[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans",
        "r15",
    )
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark(app_name="plan-capture")
    spark.sparkContext.setLogLevel("ERROR")
    for name in names:
        df = plans.REGISTRY[name].fn(spark, sf_dir)
        txt = formatted_plan(spark, df)
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(txt)
        print(f"wrote {path} ({len(txt.splitlines())} lines)", flush=True)


if __name__ == "__main__":
    main()
