"""Core expression helpers.

Each helper closes one ⚠ gap from SURVEY.md §2 between the reference's
Polars semantics and Spark built-ins. All are thin, pure, JVM-side Column
compositions — no Python UDFs — so Catalyst sees through every one of them
(predicate pushdown, column pruning, and whole-stage codegen all still apply).

Reference call sites are cited per helper (files under /root/reference).
"""

from __future__ import annotations

import datetime
import os
import warnings
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def regexp_extract_null(col: Column | str, pattern: str, group: int = 1) -> Column:
    """Regex group extract returning NULL on no-match.

    Spark's ``regexp_extract`` returns ``''`` when the pattern misses;
    the reference's ``str.extract`` returns null (wd_tmdb.py:22,
    wikidata.py:71). Wrapping in ``nullif`` restores null semantics, which
    downstream ``na.drop`` / ``isNull`` filters depend on.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.nullif(F.regexp_extract(c, pattern, group), F.lit(""))


def pl_format(fmt: str, *cols: Column | str) -> Column:
    """Null-propagating string interpolation.

    Mirrors ``pl.format("{}x{}", a, b)`` (wd_tmdb.py:218-224,
    wd_opencritic.py:104-126): the result is NULL if *any* argument is null.
    Spark's ``format_string`` renders the literal text "null" instead, so we
    build a ``concat`` (which null-propagates) of literal fragments and
    column arguments.
    """
    parts = fmt.split("{}")
    if len(parts) - 1 != len(cols):
        raise ValueError(
            f"format string has {len(parts) - 1} placeholders but {len(cols)} args"
        )
    pieces: list[Column] = []
    for i, frag in enumerate(parts):
        if frag:
            pieces.append(F.lit(frag))
        if i < len(cols):
            c = F.col(cols[i]) if isinstance(cols[i], str) else cols[i]
            pieces.append(c.cast("string"))
    if not pieces:
        return F.lit("")
    return F.concat(*pieces)


def is_unique(df: DataFrame, *keys: str) -> Column:
    """Boolean column: the key value occurs exactly once in the whole frame.

    Polars ``Expr.is_unique`` (wd_tmdb.py:240,323). Implemented as a window
    count over the key — one shuffle on the key, map-side partial counts;
    scales because the window carries no ordering (no sort, only hash
    exchange + count). SQL forbids window functions in WHERE: materialize
    via ``withColumn`` before filtering, or use :func:`where_unique`.
    """
    w = Window.partitionBy(*[F.col(k) for k in keys])
    return F.count(F.lit(1)).over(w) == 1


def where_unique(df: DataFrame, extra: Column | None = None, *, keys: Sequence[str]) -> DataFrame:
    """Keep rows whose key occurs exactly once, AND an optional predicate.

    Filter form of :func:`is_unique` (window columns are not legal in a
    WHERE clause, so the count is materialized then dropped).
    """
    out = df.withColumn("__uniq", is_unique(df, *keys))
    cond = F.col("__uniq") if extra is None else (F.col("__uniq") & extra)
    return out.where(cond).drop("__uniq")


def unique_keep_none(df: DataFrame, *keys: str) -> DataFrame:
    """Drop every row whose key occurs more than once.

    Polars ``unique(subset, keep="none")`` (wd_opencritic.py:86).
    """
    return where_unique(df, keys=list(keys))


def unique_first_by(df: DataFrame, keys: Sequence[str], order_by: Sequence[str]) -> DataFrame:
    """Deduplicate by ``keys`` keeping the first row per explicit order.

    Polars ``unique(subset, maintain_order=True)`` keeps the first row in
    file order (wd_tmdb.py:231,317). Spark has no stable natural order, so
    callers must name the tiebreak columns. row_number window ⇒ one shuffle
    + per-key sort on (keys, order_by); with AQE skewed keys are split.
    """
    w = Window.partitionBy(*[F.col(k) for k in keys]).orderBy(
        *[F.col(o) for o in order_by]
    )
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )


def prefix_columns(df: DataFrame, prefix: str) -> DataFrame:
    """Rename every column with a prefix.

    Polars ``pl.all().name.prefix("wd_")`` (wd_opencritic.py:96,138,180).
    Pure projection — no shuffle, pruning still works through aliases.
    One ``toDF`` call plans the same Project as a ``col().alias()`` per
    column, without a py4j round trip per column.
    """
    return df.toDF(*[prefix + c for c in df.columns])


def now_lit() -> Column:
    """Current UTC timestamp as a plan-time literal, second precision.

    The reference's ``now()`` (polars_utils.py:54-56) evaluates once when
    the expression is *built* (not per-row), rounded to 1 s. A Spark
    ``current_timestamp()`` is query-start time; we want build time, so we
    embed a Python-evaluated literal.
    """
    now = datetime.datetime.now(datetime.timezone.utc).replace(tzinfo=None)
    # round (not truncate) to nearest second, matching dt.round("1s")
    if now.microsecond >= 500_000:
        now += datetime.timedelta(seconds=1)
    return F.lit(now.replace(microsecond=0))


def binary_to_utf8(col: Column | str) -> Column:
    """Binary → string (polars_requests.py:248 ``cast(pl.Utf8)``)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.decode(c, "UTF-8")


def between_left_closed(col: Column | str, low, high) -> Column:
    """Polars ``is_between(closed="left")``: low <= c < high.

    Spark's ``Column.between`` is inclusive on both ends
    (test_polars_requests.py:24 uses left-closed).
    """
    c = F.col(col) if isinstance(col, str) else col
    return (c >= F.lit(low)) & (c < F.lit(high))


def _random_order(seed: int | None) -> Column:
    """A sort key that puts rows in random order: ``rand(seed)`` when
    seeded, else a fresh string salt hashed with each row's
    ``monotonically_increasing_id``.

    An unseeded ``F.rand()`` draws its seed on the driver, and whole-stage
    codegen writes that seed into the generated Java as a literal
    (``new XORShiftRandom(-4336560173747316741L + partitionIndex)``), so
    every call compiled new code: 4 Janino compiles of 20-30 ms per warm
    ``reconcile`` iteration, 2 per RDF sink, and some iterations thrashed
    the 100-entry code cache (13-34 compiles). A string literal is passed
    to the generated class by reference, so the code is the same each call.
    """
    if seed is not None:
        return F.rand(seed)
    return F.xxhash64(F.lit(os.urandom(8).hex()), F.monotonically_increasing_id())


def sample(
    df: DataFrame,
    n: int | None = None,
    fraction: float | None = None,
    with_replacement: bool = False,
    shuffle: bool = False,
    seed: int | None = None,
) -> DataFrame:
    """Full option surface of the reference ``sample`` (polars_utils.py:59-76).

    Spark-first mapping per option combination:

    - ``fraction`` only → ``df.sample(fraction, seed)``: distributed
      Bernoulli (or Poisson when ``with_replacement``) coin-flip per row —
      no shuffle, pipeline-able with the scan. The scale path.
    - ``n`` without replacement → random sort (:func:`_random_order`) +
      ``limit(n)``: exact-n needs a global order; full shuffle of the
      candidate rows.
      The reference only samples guard-capped frames (≤ a few hundred
      rows), so this matches its use; for large frames pass ``fraction``.
    - ``n`` with replacement → driver draws a multinomial over row indices
      (seeded), broadcast-joins the counts against a row_number over a
      seeded order, and explodes each row ``count`` times. Exact-n
      multinomial is inherently global — only use behind a guard.
    - ``shuffle`` → return rows in seeded-random order (Spark frames are
      unordered; the order is observable on collect, matching Polars).
    """
    if (n is None) == (fraction is None):
        raise ValueError("exactly one of n / fraction is required")
    rand = _random_order(seed)
    if fraction is not None:
        out = df.sample(withReplacement=with_replacement, fraction=fraction, seed=seed)
        return out.orderBy(_random_order(seed)) if shuffle else out
    if not with_replacement:
        return df.orderBy(rand).limit(n)
    # exact-n WITH replacement: multinomial counts over row indices.
    # GUARD-CAPPED INPUTS ONLY: exact-n multinomial needs a global
    # row_number (one task) plus a count() action — the reference only
    # ever samples frames already capped to a few hundred rows
    # (polars_utils.py:89-100); for large frames use fraction=.
    import random as _random
    import warnings as _warnings

    cnt = df.count()
    if cnt == 0:
        return df.limit(0)
    if cnt > 100_000:
        _warnings.warn(
            f"sample(n, with_replacement) on {cnt} rows runs a single-task "
            "global sort — intended for guard-capped frames; use fraction="
        )
    counts: dict[int, int] = {}
    rng = _random.Random(seed)
    for _ in range(n):
        i = rng.randrange(cnt)
        counts[i] = counts.get(i, 0) + 1
    # tiebreak by monotonically_increasing_id: stable, always orderable
    # (ordering by every column broke on map-typed columns and dragged
    # the whole row through the sort — ADVICE r2 core.py:149)
    w = Window.orderBy(rand, F.monotonically_increasing_id())
    indexed = df.withColumn("__idx", F.row_number().over(w) - 1)
    cdf = df.sparkSession.createDataFrame(
        list(counts.items()), "__idx bigint, __cnt int"
    )
    out = (
        indexed.join(F.broadcast(cdf), "__idx")
        .withColumn("__rep", F.explode(F.sequence(F.lit(1), F.col("__cnt"))))
        .drop("__idx", "__cnt", "__rep")
    )
    return out.orderBy(_random_order(seed)) if shuffle else out


def sample_n(
    df: DataFrame,
    n: int,
    seed: int | None = None,
    shuffle: bool = False,
) -> DataFrame:
    """Exact-n random sample — thin alias over :func:`sample`."""
    return sample(df, n=n, seed=seed, shuffle=shuffle)


def sample_hash(df: DataFrame, key: Column | str, fraction: float) -> DataFrame:
    """Deterministic content-hash Bernoulli sample.

    Keeps rows whose ``md5(key)`` falls in the low ``fraction`` of the hash
    space (first 4 hex digits < fraction·65536). The reproducible analog of
    ``sample(fraction=...)`` for cross-engine verification — RNG streams are
    engine-specific, content hashes are not — and the standard technique for
    stable train/holdout splits in data pipelines: membership depends only
    on the key, so re-runs and backfills select the same rows.
    """
    c = F.col(key) if isinstance(key, str) else key
    bucket = F.conv(F.substring(F.md5(c.cast("string")), 1, 4), 16, 10).cast("long")
    return df.where(bucket < int(fraction * 65536))


def sample_hash_stratified(
    df: DataFrame,
    key: Column | str,
    strata: Column | str,
    fractions: dict[str, float],
    default: float = 0.0,
) -> DataFrame:
    """Per-stratum deterministic hash sampling.

    Like :func:`sample_hash` but the kept fraction depends on the value
    of ``strata`` — the curation staple for rebalancing a corpus (e.g.
    downsample dominant languages/sources, keep the rest whole). Same
    md5-bucket membership: depends only on the key, so re-runs and
    backfills select identical rows per stratum, and a row's membership
    never changes when other strata's fractions are tuned. Narrow map,
    no shuffle; the CASE over fractions folds into the scan filter.
    """
    c = F.col(key) if isinstance(key, str) else key
    s = F.col(strata) if isinstance(strata, str) else strata
    bucket = F.conv(F.substring(F.md5(c.cast("string")), 1, 4), 16, 10).cast("long")
    cut: Column = F.lit(int(default * 65536))
    for val, frac in fractions.items():
        if not 0.0 <= frac <= 1.0:
            raise ValueError(f"fraction for {val!r} must be in [0, 1]")
        cut = F.when(s == F.lit(val), F.lit(int(frac * 65536))).otherwise(cut)
    return df.where(bucket < cut)


def limit_warn(
    df: DataFrame,
    n: int = 250,
    sample: bool = True,
    desc: str = "frame",
    seed: int | None = None,
) -> DataFrame:
    """Count ``df`` and cap it to ``n`` rows, over the same rows.

    Polars ``limit()`` guard (polars_utils.py:83-100): if count > n, emit a
    warning and return a sample (or head) of n rows. The reference counts
    and samples a frame it has already materialised; here a lazy
    ``localCheckpoint`` fences ``df``, the ``count()`` action materialises
    the fence, and the returned frame — capped or not — reads the fenced
    rows. So the upstream plan runs once, HTTP lookups included, and the
    warned count describes exactly the rows the caller goes on to read.
    A bare count would replay the whole lineage and the caller's action
    would replay it again, possibly with different rows.
    """
    fenced = df.localCheckpoint(eager=False)
    cnt = fenced.count()
    if cnt <= n:
        return fenced
    warnings.warn(f"{desc} has {cnt} rows, limiting to {n}", stacklevel=2)
    if sample:
        return sample_n(fenced, n, seed=seed)
    return fenced.limit(n)


def apply_elementwise(fn, return_type, none_passthrough: bool = True):
    """Element-wise Python apply with null passthrough (reference X1,
    polars_utils.py:25-51 ``apply_with_tqdm``: skips null elements
    :40-43; the tqdm progress concern maps to Spark's own task metrics).

    Returns a Column-producing callable. Row-at-a-time Python — the SLOW
    path by design (SURVEY §2.13): reserve for genuinely scalar,
    non-vectorizable logic; anything batchable belongs in a pandas UDF.
    # MARK: python UDF — Catalyst optimization barrier.
    """

    def wrapped(v):
        if none_passthrough and v is None:
            return None
        return fn(v)

    return F.udf(wrapped, return_type)
