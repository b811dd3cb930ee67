"""Declared nested schemas (the reference never infers schemas).

Spark StructTypes mirroring the reference's explicit dtypes:

- HTTP request/response structs: polars_requests.py:49-66. Headers are
  ``ARRAY<STRUCT<name,value>>`` — deliberately *not* a MapType, preserving
  duplicate header names and order (polars_requests.py:49-57).
- TMDB find-result dtype: wd_tmdb.py:49-55.
- MediaWiki extract-page JSON dtype: wikidata.py:11-23.

Unsigned Polars ints map to signed Spark types per SURVEY.md §1: status
UInt16 → INT (100..599), TMDB ids UInt32 → BIGINT.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

HEADERS_TYPE = ArrayType(
    StructType(
        [
            StructField("name", StringType()),
            StructField("value", StringType()),
        ]
    )
)

# polars_requests.py:52-57 (HTTP_REQUEST_DTYPE)
HTTP_REQUEST_TYPE = StructType(
    [
        StructField("url", StringType()),
        StructField("headers", HEADERS_TYPE),
    ]
)

# polars_requests.py:60-66 (HTTP_RESPONSE_DTYPE); status UInt16 → INT
HTTP_RESPONSE_TYPE = StructType(
    [
        StructField("status", IntegerType()),
        StructField("headers", HEADERS_TYPE),
        StructField("data", BinaryType()),
    ]
)

# wd_tmdb.py:49-55 — TMDB /find response subset, one ARRAY<STRUCT<id>> per
# media type ("movie_results", "tv_results", "person_results", ...)
def tmdb_find_result_type(media_type: str) -> StructType:
    return StructType(
        [
            StructField(
                f"{media_type}_results",
                ArrayType(StructType([StructField("id", LongType())])),
            )
        ]
    )


def prepare_request(url: Column | str, headers: dict[str, str] | None = None) -> Column:
    """Build an http_request struct column (polars_requests.py:197-215).

    ``headers`` values may themselves be Columns via F.lit-able strings; the
    reference builds ``List<Struct{name,value}>`` with ``concat_list``.
    """
    u = F.col(url) if isinstance(url, str) else url
    header_structs = [
        F.struct(F.lit(k).alias("name"), F.lit(v).alias("value"))
        for k, v in (headers or {}).items()
    ]
    headers_col = F.array(*header_structs) if header_structs else F.lit(None).cast(HEADERS_TYPE)
    return F.struct(u.cast("string").alias("url"), headers_col.alias("headers"))
