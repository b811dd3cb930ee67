"""Unit tests for the ⚠-gap expression helpers (SURVEY.md §2 / Phase 2).

Mirrors the reference's test strategy layers 1-2 (SURVEY.md §5):
schema-as-oracle assertions plus golden-frame equality.
"""

from __future__ import annotations

import datetime
import warnings

import pytest
from pyspark.sql import Row, functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from wikidatabots_spark.functions.core import (
    between_left_closed,
    binary_to_utf8,
    limit_warn,
    now_lit,
    pl_format,
    prefix_columns,
    regexp_extract_null,
    sample_n,
    unique_first_by,
    unique_keep_none,
    where_unique,
)


def test_regexp_extract_null(spark):
    # polars str.extract returns null on miss (wd_tmdb.py:22)
    df = spark.createDataFrame([("tt123",), ("garbage",), (None,)], "s string")
    out = df.select(regexp_extract_null("s", r"tt(\d+)").alias("x")).collect()
    assert [r.x for r in out] == ["123", None, None]


def test_pl_format_null_propagates(spark):
    # pl.format yields null when any arg is null (wd_tmdb.py:218-224)
    df = spark.createDataFrame([(1, "a"), (2, None)], "i long, s string")
    out = df.select(pl_format("x{}y{}z", F.col("i"), F.col("s")).alias("f"))
    assert out.schema == StructType([StructField("f", StringType())])
    vals = [r.f for r in out.orderBy("f").collect()]
    assert vals == [None, "x1yaz"]


def test_pl_format_arity_check():
    with pytest.raises(ValueError):
        pl_format("{} {}", F.lit(1))


def test_unique_first_by(spark):
    df = spark.createDataFrame(
        [(1, "b", 10), (1, "a", 20), (2, "c", 30)], "k long, ord string, v long"
    )
    out = unique_first_by(df, ["k"], ["ord"]).orderBy("k").collect()
    assert [(r.k, r.ord, r.v) for r in out] == [(1, "a", 20), (2, "c", 30)]


def test_unique_keep_none(spark):
    # polars unique(keep="none") drops every duplicated key (wd_opencritic.py:86)
    df = spark.createDataFrame([(1,), (1,), (2,)], "k long")
    out = unique_keep_none(df, "k").collect()
    assert [r.k for r in out] == [2]


def test_where_unique_extra_predicate(spark):
    df = spark.createDataFrame([(1, 5), (1, 6), (2, 7), (3, 1)], "k long, v long")
    out = where_unique(df, F.col("v") > 2, keys=["k"]).orderBy("k").collect()
    assert [r.k for r in out] == [2]
    assert out[0].__fields__ == ["k", "v"]  # helper column dropped


def test_prefix_columns(spark):
    df = spark.createDataFrame([(1, "x")], "a long, b string")
    out = prefix_columns(df, "wd_")
    assert out.columns == ["wd_a", "wd_b"]


def test_between_left_closed(spark):
    df = spark.createDataFrame([(i,) for i in range(5)], "v long")
    out = df.where(between_left_closed("v", 1, 3)).collect()
    assert sorted(r.v for r in out) == [1, 2]


def test_now_lit_is_plan_time_literal(spark):
    # now() semantics: fixed at expression build, 1s rounding, no micros
    # (polars_utils.py:54-56)
    col = now_lit()
    df = spark.range(2).select(col.alias("t"))
    assert df.schema == StructType([StructField("t", TimestampType(), False)])
    vals = [r.t for r in df.collect()]
    assert vals[0] == vals[1]
    assert vals[0].microsecond == 0
    assert abs((datetime.datetime.now() - vals[0]).total_seconds()) < 10


def test_binary_to_utf8(spark):
    df = spark.createDataFrame([(bytearray(b"hi"),)], "b binary")
    assert df.select(binary_to_utf8("b").alias("s")).collect()[0].s == "hi"


def test_sample_n_exact(spark):
    df = spark.range(100)
    out = sample_n(df, 7, seed=42)
    assert out.count() == 7


def test_unseeded_sample_n_reuses_generated_code(spark):
    """A second unseeded sample of the same frame compiles no Java: its
    randomness is not written into the generated source."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source
    compiles = metrics.CodegenMetrics.METRIC_COMPILATION_TIME()
    df = spark.range(1000).selectExpr("id", "id % 7 AS k")
    first = {r.id for r in sample_n(df, 20).collect()}
    before = compiles.getCount()
    second = {r.id for r in sample_n(df, 20).collect()}
    assert compiles.getCount() == before
    assert len(first) == len(second) == 20
    assert first != second  # fresh randomness per call: equal 1 in C(1000, 20)


def test_sample_full_surface(spark):
    from wikidatabots_spark.functions.core import sample, sample_hash

    df = spark.range(200)
    # fraction: Bernoulli, approximately fraction*n rows, no duplicates
    frac = sample(df, fraction=0.3, seed=7)
    n_frac = frac.count()
    assert 20 <= n_frac <= 100
    assert frac.distinct().count() == n_frac
    # exact-n with replacement: exactly n rows, duplicates allowed & likely
    rep = sample(df, n=150, with_replacement=True, seed=7)
    assert rep.count() == 150
    assert rep.distinct().count() < 150
    assert rep.distinct().count() <= 200
    # shuffle flag composes; n and fraction are mutually exclusive
    assert sample(df, n=5, shuffle=True, seed=1).count() == 5
    import pytest as _pytest

    with _pytest.raises(ValueError):
        sample(df)
    with _pytest.raises(ValueError):
        sample(df, n=5, fraction=0.5)
    # deterministic hash sample: same rows on every call, ~fraction kept
    h1 = sorted(r.id for r in sample_hash(df, "id", 0.25).collect())
    h2 = sorted(r.id for r in sample_hash(df, "id", 0.25).collect())
    assert h1 == h2 and 20 <= len(h1) <= 90


def test_limit_warn_caps_and_warns(spark):
    df = spark.range(100)
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        out = limit_warn(df, n=10, sample=False, desc="t")
        assert out.count() == 10
        assert any("100 rows" in str(x.message) for x in w)
    # under the cap: untouched, no warning
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        assert limit_warn(df, n=1000).count() == 100
        assert not w


def test_limit_warn_caps_the_rows_it_counted(spark):
    """The capped frame reads the rows the guard counted: a frame whose
    every evaluation draws new values returns the same rows each time."""
    import random

    draw = F.udf(lambda _i: random.random(), "double").asNondeterministic()
    df = spark.range(40).withColumn("r", draw("id"))
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        capped = limit_warn(df, n=10, seed=7)
        assert any("40 rows" in str(x.message) for x in w)
    first = sorted(map(tuple, capped.collect()))
    assert len(first) == 10
    assert sorted(map(tuple, capped.collect())) == first
    whole = limit_warn(df, n=1000)
    rows = sorted(map(tuple, whole.collect()))
    assert len(rows) == 40 and sorted(map(tuple, whole.collect())) == rows


def test_sample_with_replacement_non_orderable_column(spark):
    # ADVICE r2 core.py:149 — the with-replacement window previously
    # ordered by every column and crashed on map-typed columns
    from wikidatabots_spark.functions.core import sample

    df = spark.createDataFrame(
        [(i, {"k": str(i)}) for i in range(10)], "id bigint, m map<string,string>"
    )
    out = sample(df, n=7, with_replacement=True, seed=11)
    assert out.count() == 7
    assert out.schema == df.schema
