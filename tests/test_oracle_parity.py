"""DuckDB-oracle parity for a fast subset (full sweep:
``python scripts/check_oracle.py``). Mirrors the driver's comparison:
row count + sorted column names + order-insensitive value multiset."""

from __future__ import annotations

import math

import duckdb
import pytest
from pyspark.sql import functions as F

from wikidatabots_spark import plans
from wikidatabots_spark.sources.tables import TABLES

FAST = [
    "op_null_prefix",
    "op_unique",
    "op_strings",
    "op_order_collect",
    "op_scalar_dates",
    "q1_pricing_summary",
    "q6_revenue_forecast",
    "q13_customer_distribution",
    "q21_waiting_supplier",
    "ev_hourly_rollup",
    "text_profile",
    "tmdb_via_imdb",
    "opencritic_add",
]


def _kind(sdf, kind, key, val):
    return sdf.where(F.col("kind") == kind).select(
        F.col("key").alias(key), F.col("val").alias(val)
    )


# Retired queries whose rows are legs of a host query. Each keeps its own
# DuckDB SQL; the Spark side is the host's leg(s) in the retired schema.
SLICES = {
    "op_pl_format": (
        "op_strings",
        lambda sdf: _kind(sdf, "pl_format", "o_orderkey", "line"),
        """
SELECT o_orderkey,
       'order ' || o_orderkey || ' status ' ||
       (CASE WHEN o_orderstatus = 'F' THEN NULL ELSE o_orderstatus END)
           AS line
FROM orders
""",
    ),
    "op_regexp_extract_null": (
        "op_strings",
        lambda sdf: _kind(sdf, "extract_null", "c_custkey", "cust_num").join(
            _kind(sdf, "extract_null_miss", "c_custkey", "no_match"), "c_custkey"
        ),
        """
SELECT c_custkey,
       CASE WHEN regexp_extract(c_name, 'Customer#(0*([1-9][0-9]*|0))', 2) = ''
            THEN NULL
            ELSE regexp_extract(c_name, 'Customer#(0*([1-9][0-9]*|0))', 2) END
           AS cust_num,
       CASE WHEN regexp_extract(c_mktsegment, '([0-9]+)', 1) = ''
            THEN NULL
            ELSE regexp_extract(c_mktsegment, '([0-9]+)', 1) END AS no_match
FROM customer
""",
    ),
}


def _spark_and_oracle(spark, sf_dir, name):
    if name in SLICES:
        host, project, oracle = SLICES[name]
        return project(plans.REGISTRY[host].fn(spark, sf_dir)), oracle
    entry = plans.REGISTRY[name]
    return entry.fn(spark, sf_dir), entry.oracle


def _canon(v):
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    return repr(v)


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    yield con
    con.close()


@pytest.mark.parametrize("name", FAST + list(SLICES))
def test_parity(spark, sf_dir, duck, name):
    sdf, oracle = _spark_and_oracle(spark, sf_dir, name)
    assert oracle is not None
    scols = sorted(sdf.columns)
    sset = sorted(tuple(_canon(r[c]) for c in scols) for r in sdf.collect())
    tbl = duck.execute(oracle).fetch_arrow_table()
    dcols = sorted(tbl.column_names)
    dset = sorted(tuple(_canon(r[c]) for c in dcols) for r in tbl.to_pylist())
    assert scols == dcols
    assert sset == dset
