"""Isolate sub-pipelines of a flagship with the noop sink (guide §1.4)
and report wall + summed executor CPU per part — CPU is immune to this
host's phantom stalls, so attribution survives a degraded window.

Usage: python scripts/profile_parts.py [sf_dir]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from wikidatabots_spark import plans  # noqa: E402
from wikidatabots_spark.session import get_spark  # noqa: E402


def _stages(jvm_store):
    from pyspark import SparkContext

    gw = SparkContext._gateway
    statuses = gw.jvm.java.util.ArrayList()
    task_statuses = gw.jvm.java.util.ArrayList()
    quantiles = gw.new_array(gw.jvm.double, 0)
    lst = jvm_store.stageList(statuses, False, False, quantiles, task_statuses)
    return [lst.apply(i) for i in range(lst.size())]


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    spark = get_spark(app_name="profile-parts")
    spark.sparkContext.setLogLevel("ERROR")
    jvm_store = spark.sparkContext._jsc.sc().statusStore()

    from wikidatabots_spark.operators.lm import with_lm_score
    from wikidatabots_spark.operators.similarity import semdedup_flags
    from wikidatabots_spark.operators.dedup import (
        connected_components,
        winnow_fingerprints,
        winnow_pairs,
    )
    from wikidatabots_spark.plans.curation import (
        STANDIN_GATES,
        TRAINED_GATES,
        Corpus,
        gate_stack,
    )
    from wikidatabots_spark.plans.llmdata import dsir_occurrences, dsir_scores
    from wikidatabots_spark.sources.tables import load_table
    from wikidatabots_spark.functions.scale import pushdown_fence

    def d():
        return load_table(spark, sf_dir, "documents")

    def emb():
        return load_table(spark, sf_dir, "embeddings")

    parts = {
        "exact_dedup": lambda: d()
        .select(F.md5("text").alias("h"), "doc_id")
        .groupBy("h")
        .agg(F.min("doc_id").alias("doc_id")),
        "winnow_fps": lambda: winnow_fingerprints(d(), k=3, window=4),
        "winnow_pairs": lambda: winnow_pairs(
            winnow_fingerprints(d(), k=3, window=4), d(), min_shared=3, max_df=0.2
        ),
        "winnow_cc": lambda: connected_components(
            winnow_pairs(
                winnow_fingerprints(d(), k=3, window=4),
                d(),
                min_shared=3,
                max_df=0.2,
            )
        ),
        "semdedup": lambda: semdedup_flags(emb(), k=4, rounds=2, threshold=0.3),
        "dsir_occ": lambda: dsir_occurrences(d().select("doc_id", "source", "text")),
        "dsir_scores": lambda: dsir_scores(
            d().select("doc_id", "source", "text"),
            occ=pushdown_fence(
                dsir_occurrences(d().select("doc_id", "source", "text"))
            ),
        ),
        "lm_score": lambda: with_lm_score(d()),
        "v3_gated_standin": lambda: gate_stack(Corpus(spark, sf_dir), STANDIN_GATES),
        "v3_gated_trained": lambda: gate_stack(Corpus(spark, sf_dir), TRAINED_GATES),
    }

    # warmup
    plans.REGISTRY["q6_revenue_forecast"].fn(spark, sf_dir).count()
    warm = "/root/testdata/sf0.001"
    for name, fn in parts.items():
        try:
            fn().write.format("noop").mode("overwrite").save()
        except Exception as e:
            print(f"# warmup {name} failed: {e}")
    print(f"{'part':22s} {'wall':>8s} {'cpu':>8s} {'run':>9s} loadavg")
    for name, fn in parts.items():
        pre = {s.stageId() for s in _stages(jvm_store)}
        t0 = time.perf_counter()
        fn().write.format("noop").mode("overwrite").save()
        t1 = time.perf_counter()
        cpu = 0.0
        run = 0.0
        for s in _stages(jvm_store):
            if s.stageId() in pre:
                continue
            cpu += s.executorCpuTime() / 1e9
            run += s.executorRunTime() / 1000.0
        la = os.getloadavg()[0]
        print(
            f"{name:22s} {t1 - t0:8.3f} {cpu:8.2f} {run:9.2f} {la:.1f}",
            flush=True,
        )


if __name__ == "__main__":
    main()
