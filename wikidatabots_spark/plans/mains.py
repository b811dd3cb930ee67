"""End-to-end pipeline mains — the reference's §3.1 lifecycle shape.

``wd_tmdb._main`` (wd_tmdb.py:394-409) builds 7 lazy pipelines, concats
them into one plan, and sinks through the guarded RDF printer; the
opencritic main does the same with 2 (wd_opencritic.py:216-222). Here:

- ``tmdb_main_frame`` / ``opencritic_main_frame``: the combined *plan*
  (pure, no I/O) — also registered as oracle-checked queries whose oracle
  is the UNION ALL of the constituent pipeline oracles, pinning the
  composition (U1) itself.
- ``run_tmdb_main``: plan → ``print_rdf_statements`` sink, the exact
  reference execution path (concat → guard → collect → print).

The TMDB union is ``unionByName`` over identically-shaped one-column
frames — Catalyst plans it as a single multi-child Union stage; each
child keeps its own pushed filters. The OpenCritic flows share one join,
so their main builds it once and renders each row by the flow whose
condition holds, instead of a union that would scan, shuffle and window
``lineitem`` once per flow. The sink's count guard fences the frame with a
local checkpoint, so the plan is evaluated once and the guard's count and
the printed rows come from that one evaluation (the reference likewise
counts the frame it has collected, SURVEY §2.6 O4).
"""

from __future__ import annotations

import functools
import sys
from typing import IO

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from wikidatabots_spark.plans import opencritic as oc
from wikidatabots_spark.plans import tmdb
from wikidatabots_spark.plans.registry import register
from wikidatabots_spark.sinks.rdf import print_rdf_statements

_TMDB_PARTS = ["tmdb_via_imdb", "tmdb_via_tvdb", "tmdb_not_found"]


def _union_of(names: list[str], spark: SparkSession, sf_dir: str) -> DataFrame:
    from wikidatabots_spark.plans.registry import REGISTRY

    frames = [REGISTRY[n].fn(spark, sf_dir) for n in names]
    return functools.reduce(DataFrame.unionByName, frames)


def _union_oracle(oracles: list[str]) -> str:
    return "\nUNION ALL\n".join(f"SELECT * FROM ({o})" for o in oracles)


@register(
    "tmdb_main",
    oracle=_union_oracle(
        [tmdb._TMDB_VIA_IMDB_ORACLE, tmdb._TMDB_VIA_TVDB_ORACLE, tmdb._TMDB_NOT_FOUND_ORACLE]
    ),
)
def tmdb_main_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All three TMDB reconciliation flows as one combined plan."""
    return _union_of(_TMDB_PARTS, spark, sf_dir)


@register(
    "opencritic_main",
    oracle=_union_oracle([oc._OPENCRITIC_ADD_ORACLE, oc._OPENCRITIC_UPDATE_ORACLE]),
)
def opencritic_main_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both OpenCritic flows as one combined plan: the rows of
    ``opencritic_add`` union ``opencritic_update``, over one join. The
    two conditions are exclusive (statement null vs not null), so each
    kept row renders by the one that holds."""
    wd, api = oc._wd_fixture(spark, sf_dir), oc._api_fixture(spark, sf_dir)
    add = oc.add_condition()
    return (
        oc.opencritic_joined(wd, api)
        .where(add | oc.update_condition())
        .select(
            F.when(add, oc.add_statement())
            .otherwise(oc.update_statement())
            .alias("rdf_statement")
        )
    )


def run_tmdb_main(
    spark: SparkSession,
    sf_dir: str,
    limit: int = 250,
    file: IO[str] | None = None,
) -> int:
    """Build → combine → sink, mirroring `python wd_tmdb.py`."""
    return print_rdf_statements(
        tmdb_main_frame(spark, sf_dir), limit=limit, file=file or sys.stdout
    )


def run_opencritic_main(
    spark: SparkSession,
    sf_dir: str,
    limit: int = 250,
    file: IO[str] | None = None,
) -> int:
    """Build → combine → sink, mirroring `python wd_opencritic.py`."""
    return print_rdf_statements(
        opencritic_main_frame(spark, sf_dir), limit=limit, file=file or sys.stdout
    )
