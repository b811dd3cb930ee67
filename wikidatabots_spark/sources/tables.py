"""Parquet table loaders (reference S1: ``pl.scan_parquet``).

The reference lazily scans parquet both locally and over HTTPS
(wd_tmdb.py:227,313,368-370; wd_opencritic.py:136-138). Spark's
DataFrameReader is equally lazy — the returned DataFrame is a logical scan
node; Catalyst pushes projections and predicates into the parquet reader
(visible as ``PushedFilters`` / ``ReadSchema`` in ``.explain``).

Spark core has no ``https://`` Hadoop FileSystem, so ``scan_parquet_url``
downloads the object once to a local cache dir and scans the ``file:`` copy.
On a real cluster the cache dir should be a shared store (HDFS/object
store); the download happens once on the driver, then every executor reads
the distributed copy — the same topology the reference has (one HTTP fetch,
many-threaded scan).
"""

from __future__ import annotations

import hashlib
import os
import tempfile
import urllib.request

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def ensure_session_confs(spark: SparkSession) -> None:
    """Align an externally-built SparkSession with engine semantics.

    The driver contract hands our queries an arbitrary session; these
    runtime-settable confs make semantics session-independent:
    - nanosAsLong: events.parquet carries TIMESTAMP(NANOS) — a bare
      session throws PARQUET_TYPE_ILLEGAL
    - ANSI off: the engine's cast/extract semantics are lenient
      (Polars-style null-on-failure; Spark 4 defaults ANSI on)
    - UTC session tz: timestamp literals/oracle parity
    """
    for k, v in (
        ("spark.sql.legacy.parquet.nanosAsLong", "true"),
        ("spark.sql.ansi.enabled", "false"),
        ("spark.sql.session.timeZone", "UTC"),
    ):
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # non-settable in some deployments; queries still try


# Scanned schema per parquet file, keyed on the file's identity: the
# real path plus (st_mtime_ns, st_size, st_ino), so a rewrite or a
# replace-by-rename at the same path misses the cache.
_SCHEMAS: dict[tuple[str, int, int, int], StructType] = {}


def _scan_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` that infers a regular file's schema once.

    Inference is a Spark job per call (it reads the footer on an
    executor); the reference mains load ``orders`` three times per run.
    A repeat load hands the cached schema to the reader, which then
    lists the file and runs no job. Directories (partitioned or
    multi-file tables) are inferred on every call: files inside them can
    change without the directory's own stat changing.
    """
    if not os.path.isfile(path):
        return spark.read.parquet(path)
    st = os.stat(path)
    key = (os.path.realpath(path), st.st_mtime_ns, st.st_size, st.st_ino)
    schema = _SCHEMAS.get(key)
    if schema is not None:
        return spark.read.schema(schema).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMAS[key] = df.schema
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Lazy scan of one synthetic table (TESTDATA.md layout).

    A file's scanned schema is inferred once per process and reused
    while the file is unchanged (``_scan_parquet``).

    ``events.ts`` has two known physical encodings across testdata
    generations, handled by branching on the scanned dtype:
    - legacy TIMESTAMP(NANOS): Spark has no nanosecond timestamps, so
      (with ``spark.sql.legacy.parquet.nanosAsLong``) it scans as a long
      which we floor-divide to µs — the same truncation DuckDB applies
      when it reads nanos into its µs timestamps;
    - newer µs TIMESTAMP with isAdjustedToUTC=false: Spark 4 scans it as
      timestamp_ntz; with the session tz pinned UTC the NTZ→LTZ cast is
      wall-clock-identity. The pin is *verified* (not assumed): there is
      no tz-independent NTZ→LTZ expression — ``to_utc_timestamp(ntz,
      'UTC')`` implicitly casts through the session tz first (measured),
      so if the tz conf could not be set we raise rather than silently
      shift every event by the session offset.
    """
    ensure_session_confs(spark)
    df = _scan_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events":
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            from pyspark.sql import functions as F

            # integer div — ns values exceed double's exact range, so no `/`
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_type == "timestamp_ntz":
            from pyspark.sql import functions as F

            # newer testdata writes plain µs TIMESTAMP (isAdjustedToUTC=
            # false) which Spark 4 infers as NTZ; the cast below is only
            # wall-clock-identity when the session tz is UTC, and
            # ensure_session_confs swallows set failures — so verify, and
            # fail loudly instead of silently shifting by the tz offset
            tz = spark.conf.get("spark.sql.session.timeZone", "")
            if tz not in ("UTC", "Etc/UTC", "GMT", "Z", "+00:00"):
                raise RuntimeError(
                    "events.ts is timestamp_ntz and spark.sql.session."
                    f"timeZone={tz!r} could not be pinned to UTC; the "
                    "NTZ->LTZ cast would shift every event by the session "
                    "offset. Set the session timeZone to UTC."
                )
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def scan_parquet_url(
    spark: SparkSession, url: str, cache_dir: str | None = None
) -> DataFrame:
    """Scan remote parquet by URL (reference S1 over HTTPS).

    Downloads to a content-addressed local cache (once per URL per process)
    and returns a lazy scan of the cached file. ``file://`` and plain paths
    short-circuit to a direct scan.
    """
    if "://" not in url or url.startswith("file://"):
        return spark.read.parquet(url.removeprefix("file://"))
    cache_dir = cache_dir or os.path.join(tempfile.gettempdir(), "wdb_spark_parquet")
    os.makedirs(cache_dir, exist_ok=True)
    dest = os.path.join(cache_dir, hashlib.sha256(url.encode()).hexdigest() + ".parquet")
    if not os.path.exists(dest):
        tmp = dest + ".tmp"
        # timeout: a stalled remote must not hang the driver (the HTTP and
        # SPARQL adapters set timeouts too; sources/http.py is the model)
        with urllib.request.urlopen(url, timeout=60) as resp, open(tmp, "wb") as out:  # noqa: S310
            while chunk := resp.read(1 << 20):
                out.write(chunk)
        os.replace(tmp, dest)
    return spark.read.parquet(dest)


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Create a temp view per synthetic table so the whole engine surface
    is reachable from ``spark.sql`` — the same names the DuckDB oracle
    uses, so SQL text is portable across both engines."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
