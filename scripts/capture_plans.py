"""Capture .explain("formatted") for named queries into plans/r15/.

Usage: python scripts/capture_plans.py <suffix> <query> [query ...]
Writes plans/r15/<query>_<suffix>.txt for each query.

Spark's global counters are masked: ``plan_id=N`` to ``plan_id=#`` and
RDD ids (``MapPartitionsRDD[N]``) to ``RDD[#]``. They count every plan
and RDD the session has built, so a query that runs jobs while its frame
is built would otherwise differ from one capture to the next. Expression
ids (``name#N``) and PySpark lambda variables (``x_N``) count every one
the process has built, so they are renumbered by first appearance within
each dump: a dump does not shift when a query captured before it in the
same process changes.

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
_RDD_ID = re.compile(r"RDD\[\d+\]")
# (pattern, prefix) of each per-process counter renumbered per dump
_RENUMBERED = ((re.compile(r"#(\d+)"), "#"), (re.compile(r"\bx_(\d+)\b"), "x_"))


def mask_plan_ids(txt: str) -> str:
    """Replace each ``plan_id=N`` with ``plan_id=#`` and each RDD id
    ``RDD[N]`` with ``RDD[#]``."""
    return _RDD_ID.sub("RDD[#]", _PLAN_ID.sub("plan_id=#", txt))


def renumber_expr_ids(txt: str) -> str:
    """Renumber each ``#N`` expression id and each ``x_N`` lambda
    variable by its first appearance in ``txt``: the first id seen
    becomes ``#0``, the next new one ``#1``, and likewise ``x_0``."""
    for pattern, prefix in _RENUMBERED:
        ids: dict[str, str] = {}
        txt = pattern.sub(lambda m: prefix + ids.setdefault(m[1], str(len(ids))), txt)
    return txt


def formatted_plan(spark, df) -> str:
    """``df.explain("formatted")`` as text, plan ids masked and expression
    ids renumbered."""
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    txt = df._jdf.queryExecution().explainString(mode)
    return renumber_expr_ids(mask_plan_ids(txt))


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
