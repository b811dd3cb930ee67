"""scripts/capture_plans.py masks Spark's global plan counters and
renumbers expression ids, so two captures of one commit are
byte-identical, wherever a query falls in a multi-query capture."""

from __future__ import annotations

import re
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "scripts"))

from capture_plans import (  # noqa: E402
    formatted_plan,
    mask_plan_ids,
    renumber_expr_ids,
)


def test_plan_ids_are_masked_and_nothing_else():
    a = (
        "Arguments: hashpartitioning(item#12, 4), ENSURE_REQUIREMENTS, [plan_id=117]\n"
        "Arguments: HashedRelationBroadcastMode(List(...),false), [plan_id=9]\n"
        "(3) Scan parquet  my_plan_id=5\n"
        "Arguments: [doc_id#0L], MapPartitionsRDD[277] at localCheckpoint\n"
    )
    b = (
        a.replace("plan_id=117", "plan_id=4")
        .replace("[plan_id=9]", "[plan_id=2031]")
        .replace("RDD[277]", "RDD[15]")
    )
    assert mask_plan_ids(a) == mask_plan_ids(b) == (
        "Arguments: hashpartitioning(item#12, 4), ENSURE_REQUIREMENTS, [plan_id=#]\n"
        "Arguments: HashedRelationBroadcastMode(List(...),false), [plan_id=#]\n"
        "(3) Scan parquet  my_plan_id=5\n"
        "Arguments: [doc_id#0L], MapPartitionsRDD[#] at localCheckpoint\n"
    )


def test_the_formatted_plan_has_its_plan_ids_masked(spark):
    """Spark's own formatting of an exchange carries the counter."""
    txt = formatted_plan(spark, spark.range(100).repartition(4, "id"))
    assert "[plan_id=#]" in txt
    assert re.search(r"plan_id=\d", txt) is None


def test_expression_ids_are_renumbered_by_first_appearance():
    a = (
        "(1) Scan parquet\nOutput [2]: [doc_id#1042L, text#1043]\n"
        "(2) Project\nOutput [2]: [doc_id#1042L, md5(text#1043) AS h#1090]\n"
        "(3) Filter\nfilter(w#1091, lambdafunction(NOT (lambda x_5#1092 = ),"
        " lambda x_5#1092, false))\nArguments: [plan_id=#]\n"
    )
    b = (
        a.replace("#1042", "#7")
        .replace("#1043", "#12")
        .replace("#1090", "#9")
        .replace("x_5", "x_3")
    )
    assert renumber_expr_ids(a) == renumber_expr_ids(b) == (
        "(1) Scan parquet\nOutput [2]: [doc_id#0L, text#1]\n"
        "(2) Project\nOutput [2]: [doc_id#0L, md5(text#1) AS h#2]\n"
        "(3) Filter\nfilter(w#3, lambdafunction(NOT (lambda x_0#4 = ),"
        " lambda x_0#4, false))\nArguments: [plan_id=#]\n"
    )


def test_a_dump_does_not_shift_when_an_earlier_query_changes(spark):
    """Expressions built before a frame (here: another query's plan)
    move its raw ids, not its dump."""
    from pyspark.sql import functions as F

    def frame():
        doubled = F.array(F.col("id"), F.col("id") * 2)
        return spark.range(100).select(F.filter(doubled, lambda v: v > 3).alias("x"))

    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    first = frame()
    raw_first = first._jdf.queryExecution().explainString(mode)
    spark.range(10).select(
        *[F.transform(F.array("id"), lambda v: v + i).alias(f"c{i}") for i in range(5)]
    ).collect()
    second = frame()
    assert second._jdf.queryExecution().explainString(mode) != raw_first
    assert formatted_plan(spark, second) == formatted_plan(spark, first)
