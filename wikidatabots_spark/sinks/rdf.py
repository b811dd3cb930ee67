"""stdout RDF sink (reference S7, polars_utils.py:106-123).

Contract preserved:
- schema must be exactly one ``rdf_statement: string`` column — asserted
  at plan time via ``df.schema`` (no execution), mirroring the
  reference's ``collect_schema()`` assertion (:115)
- row cap (default 250): warn + random-sample down when exceeded (:116 →
  :83-100) — ``limit_warn`` fences the frame with a local checkpoint, so
  the guard's count, the sample and the printed rows all come from one
  evaluation of the upstream plan, as in the reference
- rows stream to the file via ``toLocalIterator`` so the driver never
  holds more than a partition (matters if the cap is lifted at scale)
"""

from __future__ import annotations

import sys
from collections.abc import Callable
from typing import IO

from pyspark.sql import DataFrame
from pyspark.sql.types import StringType, StructField, StructType

from wikidatabots_spark.functions.core import limit_warn

RDF_SCHEMA = StructType([StructField("rdf_statement", StringType())])
DEFAULT_LIMIT = 250  # polars_utils.py:106


def print_rdf_statements(
    df: DataFrame,
    limit: int = DEFAULT_LIMIT,
    sample: bool = True,
    file: IO[str] | None = None,
    seed: int | None = None,
    progress: Callable[[int], None] | bool | None = None,
) -> int:
    """Print one RDF statement per row; returns the number printed.

    ``progress`` mirrors the reference's ``apply_with_tqdm`` driver-side
    progress reporting (polars_utils.py:25-51) for the one place this
    engine iterates rows on the driver: pass a callable to receive the
    running row count after each row, or ``True`` to use tqdm when
    importable (falling back to a stderr counter every 100 rows).
    Executor-side progress remains Spark's own task metrics/UI — a
    per-row Python callback there would serialize the hot path.
    """
    assert [f.name for f in df.schema.fields] == ["rdf_statement"], (
        f"expected a single rdf_statement column, got {df.columns}"
    )
    assert isinstance(df.schema["rdf_statement"].dataType, StringType), (
        "rdf_statement must be a string column"
    )
    out = file or sys.stdout
    capped = limit_warn(df, n=limit, sample=sample, desc="rdf statements", seed=seed)
    tick: Callable[[int], None] | None
    close: Callable[[], None] = lambda: None
    if progress is True:
        try:
            from tqdm import tqdm  # type: ignore[import-not-found]

            bar = tqdm(desc="rdf statements", unit="row")
            tick, close = lambda _n: bar.update(1), bar.close
        except ImportError:

            def tick(n: int) -> None:
                if n % 100 == 0:
                    print(f"rdf statements: {n}", file=sys.stderr)
    else:
        tick = progress or None
    n = 0
    try:
        for row in capped.toLocalIterator():
            print(row.rdf_statement, file=out)
            n += 1
            if tick is not None:
                tick(n)
    finally:
        close()
    return n
