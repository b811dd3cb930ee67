"""Deduplication operators over a document corpus.

Four strategies, DataFrame compositions (JVM-side, codegen'd) except for
two Python ``mapInArrow`` kernels over (id, text) batches: the MinHash
signatures (``minhash_signature_cols``) and the winnowing fingerprints
(``winnow_fingerprints``):

- ``dedup_exact``     content-hash groupBy (one shuffle on a 128-bit key)
- ``minhash_lsh_pairs``  MinHash signatures + banded LSH candidate join
- ``ngram_jaccard_pairs`` exact Jaccard over token sets with a document-
  frequency cut (the classic stopword-explosion guard)
- ``embedding_dup_pairs_lsh`` / ``_blocked`` cosine-threshold near-dup
  over embeddings (in ``similarity.py``)

Scale notes (the 100 TB story):
- Exact dedup shuffles **hashes**, not documents: project to (hash, id)
  first, aggregate, then optionally semi-join survivors back — the wide
  text column never crosses the network.
- MinHash is *deterministic* by construction: hash_i(token) =
  md5(i || ':' || token); the signature is k independent MINs per
  document, computed in place by the kernel (no shuffle; an
  under-partitioned input spreads only the k×32-byte signature rows,
  never the text). Banding turns all-pairs O(n²) into a
  self-equi-join on band keys — Spark hashes band keys across the cluster,
  so candidate generation is embarrassingly parallel; a hot band (e.g.
  boilerplate docs) is handled by AQE skew-join splitting.
- The Jaccard verifier joins on *rare* tokens only (document frequency
  ≤ ``max_df``): common-token pairs explode quadratically at scale and
  contribute no discriminating signal.

Reference anchor: the reference has no dedup (BASELINE.json north_star);
closest structural relative is its is_unique/keep-none idiom
(wd_tmdb.py:240, wd_opencritic.py:86) which `dedup_exact` generalizes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

WORD_SPLIT = r"\s+"


def tokens(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Distinct (id, token) pairs; empty tokens dropped.

    Guarded by ``ensure_parallelism``: a single-file scan is one task, and
    the tokenize/explode is CPU-heavy — without the guard every consumer
    (SimHash, curation) runs its map stage single-threaded locally.
    """
    return (
        ensure_parallelism(df.select(F.col(id_col), F.col(text_col)), id_col)
        .select(
            F.col(id_col),
            F.explode(F.split(F.lower(F.col(text_col)), WORD_SPLIT)).alias("token"),
        )
        .where(F.col("token") != "")
        .distinct()
    )


_NARROW_PLAN_NODES = frozenset(
    {
        # partition-preserving logical nodes rooted directly on a scan
        "Project",
        "Filter",
        "Generate",
        "SubqueryAlias",
        "Relation",
        "LogicalRelation",
        "Sample",
    }
)


def _plan_is_narrow_scan(df: DataFrame) -> bool:
    """True iff the analyzed logical plan is a scan plus partition-
    preserving narrow ops only. Any Repartition/Coalesce/Limit/Join/
    Aggregate/Window/Union node means the frame's partitioning is NOT
    determined by its input files, so the file-inventory estimate would
    be wrong in both directions (a coalesced/limited frame looks well-
    partitioned; a post-shuffle frame rooted in one small file looks
    under-partitioned) — exactly the ADVICE r2 dedup.py:59 failure."""
    import re

    try:
        plan = df._jdf.queryExecution().analyzed().toString()
    except Exception:
        return False
    nodes = re.findall(r"^[\s+:|-]*([A-Za-z]+)", plan, flags=re.M)
    return bool(nodes) and all(n in _NARROW_PLAN_NODES for n in nodes)


def _estimate_scan_partitions(df: DataFrame) -> int | None:
    """Estimate the scan's partition count from its input files' sizes.

    ``df.rdd.getNumPartitions()`` forces a full physical plan compile per
    call; for local-file scans the same answer follows from the file
    inventory and ``maxPartitionBytes`` (Spark packs splits of that size).
    Returns None when the inputs aren't stat-able local files, or when the
    plan is not a pure scan + narrow ops (the inventory says nothing about
    the partitioning of repartitioned/limited/joined frames) — callers
    fall back to the rdd path.
    """
    import os

    if not _plan_is_narrow_scan(df):
        return None
    try:
        files = df.inputFiles()
    except Exception:  # non-file source (rate, memory, ...)
        return None
    if not files:
        return None
    total = 0
    for f in files:
        p = f.removeprefix("file://").removeprefix("file:")
        if not os.path.isfile(p):
            return None  # remote FS: let Spark plan it
        total += os.path.getsize(p)

    def _bytes_conf(key: str, default: int) -> int | None:
        raw = str(df.sparkSession.conf.get(key, str(default))).lower().removesuffix(
            "b"
        )
        try:
            return int(raw)
        except ValueError:
            return None

    max_pb = _bytes_conf("spark.sql.files.maxPartitionBytes", 134217728)
    open_cost = _bytes_conf("spark.sql.files.openCostInBytes", 4194304)
    if max_pb is None or open_cost is None:
        return None
    # Spark's FilePartition packing: splits are min(maxPartitionBytes,
    # max(openCostInBytes, bytesPerCore)) — NOT maxPartitionBytes alone.
    # Using only maxPartitionBytes underestimates parallelism for inputs
    # between ~openCost·cores and ~maxPartitionBytes·cores and would make
    # the guard below add a pointless full shuffle on mid-size scans.
    cores = df.sparkSession.sparkContext.defaultParallelism
    padded = total + len(files) * open_cost
    bytes_per_core = padded / max(cores, 1)
    max_split = min(max_pb, max(open_cost, bytes_per_core))
    return max(1, -(-int(padded) // int(max_split)))


def ensure_parallelism(df: DataFrame, *keys: str) -> DataFrame:
    """Repartition UP to the cluster's default parallelism if the plan is
    under-partitioned (e.g. one small parquet file → one task doing all
    the CPU-heavy tokenize/hash work). A no-op when the scan already has
    enough partitions — so at 100 TB (thousands of input splits) no
    shuffle is added, while small-file local runs get full-width CPU.

    Pass key columns when the frame feeds multiple plan branches: hash
    partitioning is deterministic, so Catalyst can collapse the branches
    with ReusedExchange — round-robin ``repartition(n)`` cannot be reused
    and each branch would recompute the whole upstream pipeline.

    The under-partitioned check prefers a file-inventory estimate
    (``_estimate_scan_partitions``) over ``df.rdd.getNumPartitions()``:
    the latter compiles a physical plan per call, which adds up when
    operators compose several guarded frames in one query.

    Streaming frames pass through untouched: micro-batch parallelism is
    the source's concern (maxFilesPerTrigger × splits), and the probes
    below would force an unsupported batch-style execution."""
    if not _under_partitioned(df):
        return df
    target = df.sparkSession.sparkContext.defaultParallelism
    if keys:
        return df.repartition(target, *[F.col(k) for k in keys])
    return df.repartition(target)


def _under_partitioned(df: DataFrame) -> bool:
    """``ensure_parallelism``'s check: a batch frame planned with fewer
    partitions than the default parallelism. Streaming frames never are."""
    if df.isStreaming:
        return False
    current = _estimate_scan_partitions(df)
    if current is None:
        current = df.rdd.getNumPartitions()
    return current < df.sparkSession.sparkContext.defaultParallelism


def shingles(
    df: DataFrame,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    distinct: bool = True,
) -> DataFrame:
    """(id, n-word-shingle) pairs, distinct by default.

    Pass ``distinct=False`` when the consumer is duplicate-insensitive
    (MIN-aggregation MinHash signatures): the (id, token) distinct is a
    full shuffle of every shingle string — the single most expensive
    stage of the MinHash pipeline — and MIN gives the identical result
    without it.

    Shingles (not unigrams) are what make MinHash discriminating: a shared
    vocabulary produces massive unigram overlap between unrelated docs,
    while an n-word sequence is rare unless text was actually copied.
    Built with JVM higher-order functions: split → sequence → transform →
    explode; docs with < n words contribute nothing (explicit guard —
    Spark's ``sequence(1, 0)`` counts *down*, unlike SQL generate_series).

    The word list is **materialized as a projected column** before the
    shingle transform: referencing the filter(split(...)) expression tree
    from inside the lambda would re-split the text once per shingle term
    (measured 10× slower at sf0.1 — no CSE through lambda scopes).
    """
    wl_expr = F.filter(F.split(F.lower(F.col(text_col)), WORD_SPLIT), lambda w: w != "")
    base = ensure_parallelism(df.select(F.col(id_col), wl_expr.alias("__wl")), id_col)
    wl = F.col("__wl")
    idx = F.when(F.size(wl) >= n, F.sequence(F.lit(1), F.size(wl) - (n - 1))).otherwise(
        F.array().cast("array<int>")
    )
    sh = F.transform(
        idx,
        lambda i: F.concat_ws(" ", *[F.element_at(wl, i + j) for j in range(n)]),
    )
    out = base.select(F.col(id_col), F.explode(sh).alias("token"))
    return out.distinct() if distinct else out


def dedup_exact(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Exact duplicate groups by content hash.

    Returns (text_hash, canonical_id, n_copies): lowest id wins. Only
    (hash, id) pairs shuffle.
    """
    return (
        df.select(F.md5(F.col(text_col)).alias("text_hash"), F.col(id_col))
        .groupBy("text_hash")
        .agg(
            F.min(id_col).alias("canonical_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def minhash_signatures(
    tok: DataFrame, num_hashes: int = 8, id_col: str = "doc_id"
) -> DataFrame:
    """k MinHash values per document, as k columns ``mh0..mh{k-1}``.

    hash_i(t) = md5('<i>:' || t) — min over the token set. Using the md5
    *string* ordering keeps the operator reproducible in any engine (the
    DuckDB oracle computes the identical signature), unlike JVM-seeded
    hashes. One groupBy; each MIN combines map-side.

    This is the exploded-token form (useful when a token table already
    exists); ``minhash_signature_cols`` computes the identical signature
    as a NARROW MAP with no shuffle at all and is what the band table
    uses.
    """
    aggs = [
        F.min(F.md5(F.concat(F.lit(f"{i}:"), F.col("token")))).alias(f"mh{i}")
        for i in range(num_hashes)
    ]
    return tok.groupBy(id_col).agg(*aggs)


def minhash_signature_cols(
    df: DataFrame,
    num_hashes: int = 8,
    shingle_size: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """MinHash signatures (id, mh0..mh{k-1}) as a NARROW map — a per-row
    min over the document's shingles replaces the explode + groupBy(id)
    MIN of the token form. Same values exactly (MIN over a multiset ≡
    MIN over its set), same md5-string hash family, so the DuckDB oracle
    is unchanged — and no shingle or text crosses the network: at most
    the narrow signature rows are spread (below). Also the form a
    STREAMING source can use: no aggregation means no state, so a
    stream of new documents gets signatures row-by-row
    (streaming/docs_stream.py probes them against a static band index).

    Docs with fewer than ``shingle_size`` words have no shingles and are
    dropped — identical to the token form, where they contribute no rows.

    The signatures come from a ``mapInArrow`` kernel that runs on the
    input's own partitions: only ``(id, text)`` is projected, and no
    exchange carries ``text``. When the input is under-partitioned
    (``ensure_parallelism``'s check — a single-file scan is one task),
    the kernel's NARROW output ``(id, mh0..mh{k-1})`` is what gets
    spread, hash-partitioned on the id: the one exchange of the
    signature stage, keyed and deterministic, so the two legs of
    ``band_pairs``' self-join read it once (the second leg is a
    ``ReusedExchange``) and the kernel runs once per query. For that
    the id is declared NOT NULL (a row with a null id gets no signature
    — it could never pair): otherwise the optimizer pushes the
    self-join's inferred ``isnotnull(id)`` below one leg's exchange
    only, and the legs stop matching. A streaming frame is never
    repartitioned, so it stays a pure narrow map with no state.

    Kernel vs the expression form it replaced (k ``least``/``md5``/
    ``concat`` nodes per shingle in an ``aggregate`` lambda, interpreted
    — no codegen inside HOF lambdas), ``dedup_minhash_lsh`` with the
    kernel run once, 4 cores, warm medians, CPU / wall: 500 docs
    2.22 / 0.88 s vs 2.12 / 0.80 s (a tie); 5,000 docs (sf0.1 size)
    3.09 / 1.45 s vs 4.37 / 1.93 s. The kernel stays.

    The kernel hands whole Arrow batches to C-backed ``hashlib.md5``/str
    ops. Each distinct shingle of a document is hashed once, through a
    per-task shingle→raw-digests memo (capped — Zipf repetition makes it
    pay, the cap bounds a long-lived task's memory; the same policy as
    the lm.py bigram memo and the textstats token memos); the per-hash
    minima are taken over raw 16-byte digests and only the k minima are
    hex-encoded. Exact equivalence with the expression form, pinned by
    ``test_minhash_kernel_matches_expression_form``: the tokenizer
    replicates Spark ``split(lower(text), '\\s+')`` (Java ``\\s`` =
    ``[ \\t\\n\\x0B\\f\\r]``); ``md5(concat('<i>:', t))`` hashes the same
    UTF-8 bytes; byte order of raw digests equals the order of their
    lowercase hex strings, which is the JVM's UTF8String binary
    comparison — so every signature STRING is identical, not a
    collision tradeoff.
    """
    from collections.abc import Iterator

    import pyarrow as pa

    n = shingle_size
    k = num_hashes
    src = df.select(F.col(id_col), F.col(text_col))
    id_type = dict(src.dtypes)[id_col]

    def sig_batches(
        batches: Iterator[pa.RecordBatch],
    ) -> Iterator[pa.RecordBatch]:
        import hashlib
        import re

        ws = re.compile("[ \\t\\n\\x0b\\f\\r]+")  # Java regex \s
        prefixes = [f"{i}:".encode("utf-8") for i in range(k)]
        # per-task shingle→k-raw-digest memo, capped at 2^18 entries: an
        # entry (a ~20-char shingle key, a k-tuple of 16-byte digests and
        # its dict slot) measures ~600 bytes at 8 hashes, so ~160 MB at
        # the cap. Shingles repeat across documents (Zipf), so most
        # lookups hit; past the cap the kernel simply hashes — same
        # values, bounded memory
        memo: dict[str, tuple[bytes, ...]] = {}
        memo_get = memo.get

        def digests(sh: str) -> tuple[bytes, ...]:
            b = sh.encode("utf-8")
            v = tuple(hashlib.md5(p + b).digest() for p in prefixes)
            if len(memo) < (1 << 18):
                memo[sh] = v
            return v

        for batch in batches:
            ids = batch.column(0).to_pylist()
            texts = batch.column(1).to_pylist()
            out_ids: list = []
            out_cols: list[list[str]] = [[] for _ in range(k)]
            for i, s in zip(ids, texts):
                if i is None or s is None:
                    continue
                wl = [w for w in ws.split(s.lower()) if w]
                # each distinct shingle once; < shingle_size words: no
                # shingles, no row
                shs = set(map(" ".join, zip(*[wl[j:] for j in range(n)])))
                if not shs:
                    continue
                out_ids.append(i)
                hs = [memo_get(sh) or digests(sh) for sh in shs]
                for t, col in enumerate(zip(*hs)):
                    out_cols[t].append(min(col).hex())
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(out_ids, type=batch.schema.field(0).type),
                    *[pa.array(c, type=pa.string()) for c in out_cols],
                ],
                names=[id_col, *[f"mh{t}" for t in range(k)]],
            )

    sig = src.mapInArrow(
        sig_batches,
        f"{id_col} {id_type} NOT NULL, "
        + ", ".join(f"mh{t} string" for t in range(k)),
    )
    if _under_partitioned(src):
        target = df.sparkSession.sparkContext.defaultParallelism
        return sig.repartition(target, F.col(id_col))
    return sig


def minhash_band_table(
    df: DataFrame,
    num_hashes: int = 8,
    bands: int = 4,
    shingle_size: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Long-format banded MinHash index: (id, band_idx, band_hash).

    The persistent half of an LSH dedup system: write this table out
    bucketed by (band_idx, band_hash) and any future batch can probe it
    with a plain equi-join (``incremental``-ingest dedup — see
    plans: ``dedup_incremental_index``) instead of re-deduping the
    whole corpus. Per-doc signatures depend only on the doc's own
    shingles, so the index composes across batches by union.
    """
    assert num_hashes % bands == 0
    r = num_hashes // bands
    # narrow-map signatures: nothing shuffles until the band join (the
    # r2→r4 evolution: first the shingle distinct was elided, now the
    # groupBy(id) MIN itself is replaced by per-row array_min)
    sig = minhash_signature_cols(
        df, num_hashes, shingle_size, id_col, text_col
    )
    band_cols = [
        F.expr(
            "md5(concat_ws('|', {}))".format(
                ", ".join(f"mh{b * r + j}" for j in range(r))
            )
        ).alias(f"band{b}")
        for b in range(bands)
    ]
    banded = sig.select(F.col(id_col), *band_cols)
    # long format: (band_index, band_hash, id) → equi-join per band key
    explode_sql = "explode(array({}))".format(
        ", ".join(
            f"named_struct('band_idx', {b}, 'band_hash', band{b})"
            for b in range(bands)
        )
    )
    return banded.select(
        F.col(id_col), F.expr(explode_sql).alias("bh")
    ).select(id_col, "bh.band_idx", "bh.band_hash")


# Hot-bucket anchor cap for the band self-join. A (band_idx, band_hash)
# bucket holding f documents emits ~f²/2 join rows uncapped — and at web
# scale a boilerplate/template cluster (thousands of pages differing by a
# date stamp) shares ALL bands, so one bucket is a quadratic skew bomb
# that AQE can spread but not shrink. The anchor rule bounds output
# LINEARLY: only the BAND_BUCKET_CAP lowest-id members of a bucket serve
# as left ("anchor") sides of a pair, so a bucket emits ≤ cap·f rows and
# every member still pairs with the bucket minimum — connected-components
# transitivity recovers the full cluster (the FineWeb-scale dedup rule).
# For buckets with ≤ cap members (every bucket at the test SFs except one
# 13-member bucket at sf0.1) the rule degenerates to exactly the
# uncapped all-pairs output.
BAND_BUCKET_CAP = 10


def cap_band_buckets(
    bands_df: DataFrame,
    cap: int = BAND_BUCKET_CAP,
    id_col: str = "doc_id",
    bucket_cols: tuple[str, ...] = ("band_idx", "band_hash"),
) -> DataFrame:
    """Keep only the ``cap`` lowest-id members of each (band_idx,
    band_hash) bucket — the bounded form of a PERSISTED band index.

    Applied to the corpus side of an incremental probe join, it bounds
    each new document's match fan-out per bucket at ``cap`` while
    keeping every bucket probe-able (the kept members include the
    bucket minimum, so CC transitivity connects a new doc to the whole
    historical cluster through them). The window partitions by the same
    key the probe join shuffles on, so the rank costs no extra
    exchange in the probed plan.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(*bucket_cols).orderBy(F.col(id_col))
    return (
        bands_df.withColumn("__rk", F.row_number().over(w))
        .where(F.col("__rk") <= cap)
        .drop("__rk")
    )


def minhash_band_index_delete(
    index_df: DataFrame,
    delete_ids: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Tombstone deletions from a persisted band index: drop every band
    row of a deleted document (takedowns, robots revocations — VERDICT
    r5 next #4). ONE anti-join keyed on the id; with the index stored
    bucketed by id this is exchange-free on the index side.

    The index this applies to must be the FULL (uncapped) band table:
    ``cap_band_buckets`` is a JOIN-TIME bound, not a storage bound —
    capped storage discards the >cap members' band rows, and deleting
    the anchors would leave those survivors unreconnectable. Storage is
    linear (bands × docs rows) either way; apply the cap when probing.
    """
    return index_df.join(
        delete_ids.select(F.col(id_col)), id_col, "left_anti"
    )


def components_after_delete(
    index_df: DataFrame,
    labels_df: DataFrame,
    delete_ids: DataFrame,
    id_col: str = "doc_id",
    bucket_cap: int | None = BAND_BUCKET_CAP,
) -> DataFrame:
    """Component labels after deleting documents, recomputing ONLY the
    affected components — the day-2 deletion twin of the append-only
    incremental-CC maintenance.

    Deletion can SPLIT a component (removing a bridge node), so labels
    cannot be patched in place; but the blast radius is bounded: a band
    bucket connects all its members into one component, so any survivor
    that shared ANY bucket with a deleted document is in a component
    that contains that deleted document. Therefore (1) components with
    no deleted member keep their labels verbatim — none of their
    buckets changed, so neither did their pairs or minima; (2) the
    re-component runs over the tombstoned index restricted to the
    AFFECTED components' surviving members only. Buckets never span
    components, so probe-time anchor ranks inside the restricted index
    equal the full post-deletion ranks — the bounded recompute is
    hash-identical to a full recompute on the post-deletion corpus
    (the registered query's oracle IS that full recompute).

    Cost at 100 TB: one anti-join (tombstone), two semi-joins (affected
    membership), then CC over the affected slice — proportional to the
    components touched, not the corpus.
    """
    dd = delete_ids.select(F.col(id_col).alias("node"))
    affected = (
        labels_df.join(dd, "node", "left_semi").select("component").distinct()
    )
    survivors = (
        labels_df.join(affected, "component", "left_semi")
        .join(dd, "node", "left_anti")
        .select(F.col("node").alias(id_col))
    )
    new_index = minhash_band_index_delete(index_df, delete_ids, id_col)
    sub = new_index.join(survivors, id_col, "left_semi")
    recomputed = connected_components(band_pairs(sub, bucket_cap, id_col))
    untouched = labels_df.join(affected, "component", "left_anti")
    return untouched.unionByName(recomputed)


def minhash_lsh_pairs(
    df: DataFrame,
    num_hashes: int = 8,
    bands: int = 4,
    shingle_size: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    bucket_cap: int | None = BAND_BUCKET_CAP,
) -> DataFrame:
    """Candidate near-duplicate pairs via banded MinHash LSH.

    Signature of ``num_hashes`` minhashes split into ``bands`` bands of
    r = k/b rows; docs sharing any band hash become a candidate pair.
    Returns distinct (id_a, id_b, n_shared_bands) with id_a < id_b.

    ``bucket_cap`` (default ``BAND_BUCKET_CAP``) applies the anchor
    rule: within each bucket only the ``cap`` lowest-id members emit
    pairs as the LEFT side, bounding a bucket's output at cap·f rows
    instead of f²/2 while preserving connected-component structure
    (every member pairs with the bucket minimum). ``n_shared_bands``
    counts only anchor-emitted band co-occurrences, so in a >cap
    bucket a pair's count can be lower than its true shared-band
    count — the documented price of linear output; pass ``None`` for
    the exact all-pairs semantics. **Behavior change vs pre-0.4
    releases** (uncapped default) — see README "Version notes". The
    rank window partitions by the same (band_idx, band_hash) key the
    self-join shuffles on, so the cap adds no extra exchange on the
    anchor side.
    """
    stacked = minhash_band_table(
        df, num_hashes, bands, shingle_size, id_col, text_col
    )
    return band_pairs(stacked, bucket_cap, id_col)


def band_pairs(
    stacked: DataFrame,
    bucket_cap: int | None = BAND_BUCKET_CAP,
    id_col: str = "doc_id",
) -> DataFrame:
    """The candidate-join half of ``minhash_lsh_pairs``, factored out
    so a FENCED or PERSISTED band table can feed it without recomputing
    signatures (the incremental queries read one band table through
    several legs — unfenced, each leg replays the signature stage)."""
    anchors = stacked
    if bucket_cap is not None:
        anchors = cap_band_buckets(stacked, bucket_cap, id_col)
    a = anchors.alias("a")
    b = stacked.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("a.band_idx").alias("band_idx"),
        )
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared_bands"))
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    threshold: float = 0.5,
    max_df: int | float = 0.2,
    shingle_size: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact token-set Jaccard similarity pairs ≥ threshold.

    Candidate pairs come from co-occurring *rare* tokens (document
    frequency ≤ ``max_df``), then |A∩B| is counted and |A∪B| derived from
    per-doc set sizes — the standard "prefix-filter-lite" that keeps the
    token self-join from exploding on stopwords at corpus scale. Note
    intersection counts use ALL tokens' sizes but only rare tokens join;
    pairs sharing *only* ultra-common tokens are (deliberately) not
    candidates.

    ``max_df``: a float in (0, 1) is a FRACTION of the corpus document
    count (cut = ceil(max_df·n_docs), a scalar subquery over the input:
    Spark runs the count once and both legs of the rare-token self-join
    filter on the result as a literal, with no join attaching it) — the
    scale-correct form, since an absolute cut silently tightens as the
    corpus grows; an int is the absolute document frequency for
    hand-tuned cases.

    Internally tokens travel as 64-bit ``xxhash64`` keys once the shingle
    strings have been produced: the distinct, the frequency count, and the
    self-join all shuffle 8-byte longs instead of 20-40-byte strings.
    Results are identical short of a 64-bit hash collision between two
    shingles of one corpus (birthday bound ~1e-11 at 10⁵ distinct
    shingles; the same tradeoff every production MinHash makes).
    Returns (id_a, id_b, jaccard DOUBLE).
    """
    counts = _rare_pair_counts(df, max_df, shingle_size, id_col, text_col)
    return (
        counts.withColumn(
            "jaccard",
            F.col("inter").cast("double")
            / (F.col("size_a") + F.col("size_b") - F.col("inter")),
        )
        .where(F.col("jaccard") >= F.lit(threshold))
        .select("id_a", "id_b", "jaccard")
    )


def ngram_containment_pairs(
    df: DataFrame,
    threshold: float = 0.8,
    max_df: int | float = 0.2,
    shingle_size: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Token-set CONTAINMENT pairs ≥ threshold: |A∩B| / min(|A|, |B|)
    (the overlap coefficient). Jaccard misses near-SUBSET duplication —
    a document embedded whole inside a 10× longer one scores
    |A|/(|A|+9|A|) ≈ 0.1 Jaccard but 1.0 containment — and subset dups
    (quoted articles, expanded rewrites, boilerplate-wrapped bodies)
    are a major web-corpus dup mode. Same candidate machinery and
    df-cut as ``ngram_jaccard_pairs`` (one shared implementation), only
    the final score differs. Returns (id_a, id_b, containment DOUBLE).
    """
    counts = _rare_pair_counts(df, max_df, shingle_size, id_col, text_col)
    return (
        counts.withColumn(
            "containment",
            F.col("inter").cast("double")
            / F.least(F.col("size_a"), F.col("size_b")),
        )
        .where(F.col("containment") >= F.lit(threshold))
        .select("id_a", "id_b", "containment")
    )


def _rare_pair_counts(
    df: DataFrame,
    max_df: int | float,
    shingle_size: int,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Shared candidate stage for the exact set-similarity pair family:
    rare-token self-join → (id_a, id_b, inter, size_a, size_b). A
    relative ``max_df`` cut is a scalar subquery (the corpus count),
    so the rare-token filter needs no ``BroadcastNestedLoopJoin`` on
    either leg. See ``ngram_jaccard_pairs`` for the plan-shape
    commentary."""
    from pyspark.sql import Window

    raw = shingles(df, shingle_size, id_col, text_col, distinct=False)
    tok = raw.select(
        F.col(id_col), F.xxhash64(F.col("token")).alias("tk")
    ).distinct()
    # per-doc set size rides along as a window count over the id
    # partitioning, then document frequency as a window count over the tk
    # partitioning: the tk exchange feeds the df filter AND both sides of
    # the self-join (ReusedExchange), and because the sizes travel with
    # the rows the former sizes branch — a separate groupBy plus two
    # broadcast attach-joins — disappears from the plan entirely (r3:
    # ~0.6 s and three fewer stages at sf0.1; the carried column is one
    # long per row, noise next to the 16-byte (id, tk) key)
    with_sizes = tok.withColumn(
        "set_size", F.count(F.lit(1)).over(Window.partitionBy(id_col))
    ).withColumn("df", F.count(F.lit(1)).over(Window.partitionBy("tk")))
    if isinstance(max_df, float):
        if not 0.0 < max_df < 1.0:
            raise ValueError("relative max_df must be in (0, 1)")
        cut = F.ceil(F.lit(max_df) * df.agg(F.count(F.lit(1))).scalar())
    else:
        cut = F.lit(max_df)
    rare = with_sizes.where(F.col("df") <= cut).select(id_col, "tk", "set_size")
    a = rare.alias("a")
    b = rare.alias("b")
    return (
        a.join(
            b,
            (F.col("a.tk") == F.col("b.tk"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .agg(
            F.count(F.lit(1)).alias("inter"),
            # constant within each (id_a, id_b) group — first() is exact
            F.first("a.set_size").alias("size_a"),
            F.first("b.set_size").alias("size_b"),
        )
    )


SIMHASH_BITS = 32


def simhash(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = SIMHASH_BITS,
) -> DataFrame:
    """``bits``-wide SimHash fingerprint per document → (id, simhash BIGINT).

    Default 32 bits matches the registered oracles; at billion-document
    scale use ``bits=60`` (still inside signed BIGINT) — 32-bit
    fingerprints birthday-collide at ~2¹⁶ docs, which turns the
    equal-fingerprint groups quadratic. Bits come from md5 hex digits, so
    any width ≤ 128 stays engine-agnostic.

    Classic Charikar scheme: each token hashes to a bit pattern; every
    bit position accumulates +1/−1 across the token set; the fingerprint
    takes the sign. Near-identical token sets flip few bits, so equal (or
    low-Hamming) fingerprints flag near-duplicates at a per-doc cost of
    O(tokens × bits) — no pairwise work at all until the tiny
    equal-fingerprint groups.

    Engine-agnostic by construction: token bits come from the md5 hex
    string (digit value via ``instr`` arithmetic, bit via div/mod), so
    the DuckDB oracle reproduces the fingerprint exactly — same rationale
    as the string-MinHash (no JVM hashing, no RNG).
    """
    assert 4 <= bits <= 63 and bits % 4 == 0, "bits: multiple of 4, <= 63"
    tok = tokens(df, id_col, text_col)
    digit = [
        F.instr(
            F.lit("0123456789abcdef"),
            F.substring(F.md5(F.col("token")), j + 1, 1),
        )
        - 1
        for j in range((bits + 3) // 4)
    ]
    sums = []
    for b in range(bits):
        d = digit[b // 4]
        shift = 2 ** (3 - (b % 4))
        bit = (d / shift).cast("int") % 2  # (d // shift) % 2, d ∈ [0,15]
        sums.append(F.sum(bit * 2 - 1).alias(f"s{b}"))
    per_doc = tok.groupBy(id_col).agg(*sums)
    fp = F.lit(0).cast("bigint")
    for b in range(bits):
        fp = fp + F.when(F.col(f"s{b}") > 0, F.lit(2**b)).otherwise(F.lit(0))
    return per_doc.select(F.col(id_col), fp.alias("simhash"))


def simhash_dup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Candidate pairs with identical SimHash fingerprints (id_a < id_b).

    Grouping on the fingerprint is one shuffle of (fingerprint, id);
    pair expansion happens only inside equal-fingerprint groups.
    """
    sh = simhash(df, id_col, text_col)
    a = sh.select(F.col(id_col).alias("id_a"), F.col("simhash"))
    b = sh.select(F.col(id_col).alias("id_b"), F.col("simhash"))
    return a.join(b, on="simhash").where(F.col("id_a") < F.col("id_b")).select(
        "id_a", "id_b", "simhash"
    )


def simhash_near_pairs(
    df: DataFrame,
    max_hamming: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Near-duplicate pairs by SimHash Hamming distance ≤ ``max_hamming``.

    Pigeonhole LSH over the 32-bit fingerprint: split into four 8-bit
    slices — a pair with fewer flipped bits than slices must agree on at
    least one slice, so recall is exact for ``max_hamming`` ≤ 3 (at
    exactly 4 flips, one per slice, a pair could evade all four keys).
    Candidates = equi-join on (slice_idx, slice_value); verification =
    ``bit_count(xor)`` on the full fingerprints. All integer ops —
    deterministic in any engine. One shuffle on the slice key; pair work
    confined to slice-collision groups.
    """
    sh = simhash(df, id_col, text_col)
    return hamming_near_pairs(
        sh,
        id_col=id_col,
        fp_col="simhash",
        n_slices=4,
        slice_bits=8,
        max_hamming=max_hamming,
    )


def hamming_near_pairs(
    fps: DataFrame,
    id_col: str = "doc_id",
    fp_col: str = "simhash",
    n_slices: int = 4,
    slice_bits: int = 8,
    max_hamming: int = 4,
) -> DataFrame:
    """Generic pigeonhole Hamming-LSH over an existing integer
    fingerprint column → (id_a, id_b, hamming).

    Split the fingerprint into ``n_slices`` slices of ``slice_bits``; a
    pair with fewer flipped bits than slices must agree on at least one
    slice (exact recall for ``max_hamming`` ≤ n_slices - 1). Candidates
    = equi-join on (slice_idx, slice_value); verification =
    ``bit_count(xor)`` on the full fingerprints. All integer ops; one
    shuffle on the slice key; pair work confined to collision groups.
    Reused by text SimHash (32-bit, 4×8) and media perceptual hashes
    (16-bit, 4×4).
    """
    mask = (1 << slice_bits) - 1
    sliced = fps.select(
        F.col(id_col),
        F.col(fp_col).alias("__fp"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("slice_idx"),
                        (
                            F.shiftright(F.col(fp_col), slice_bits * i)
                            % (mask + 1)
                        ).alias("slice_val"),
                    )
                    for i in range(n_slices)
                ]
            )
        ).alias("s"),
    ).select(id_col, "__fp", "s.slice_idx", "s.slice_val")
    a, b = sliced.alias("a"), sliced.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.slice_idx") == F.col("b.slice_idx"))
            & (F.col("a.slice_val") == F.col("b.slice_val"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("a.__fp").alias("fp_a"),
            F.col("b.__fp").alias("fp_b"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b"))).cast("int")
    return (
        cand.withColumn("hamming", hamming)
        .where(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def winnow_fingerprints(
    df: DataFrame,
    k: int = 3,
    window: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Winnowing fingerprints (Schleimer et al., SIGMOD '03): the minimum
    shingle hash of every ``window`` consecutive positions, deduplicated —
    → (id, fp STRING) distinct.

    The guarantee that makes winnowing the standard copy-detection
    fingerprint: any shared substring of at least ``k + window - 1`` words
    contributes at least one IDENTICAL fingerprint to both documents, yet
    only ~2/(window+1) of positions are kept — a tunable density/recall
    dial that whole-document hashing cannot offer.

    Plan shape: ONE narrow map, zero shuffles — since r14 a
    ``mapInArrow`` kernel (guide §4.2): the shingle build + per-shingle
    md5 + sliding window-min ran as interpreted higher-order functions
    (no codegen inside HOF lambdas), measured ~13 s of executor CPU at
    sf0.1 — the single largest CPU stage of every curate flagship; the
    kernel hands whole Arrow batches to C-backed ``hashlib``/str ops,
    ~10x the per-shingle throughput, and emits the per-doc distinct
    fingerprint set directly. (id, fp) rows stay distinct-per-doc, so
    no sort window or global distinct is needed downstream. Hashes are
    md5 hex strings — engine-agnostic, oracle-reproducible
    (lexicographic min on hex strings in all three implementations).

    Exact-equivalence notes vs the former expression form, pinned by
    ``test_winnow_kernel_matches_expression_form``: the tokenizer
    replicates Spark ``split(lower(text), '\\s+')`` — the split class
    is Java regex ``\\s`` = ``[ \\t\\n\\x0B\\f\\r]`` (ASCII, unlike
    Python's Unicode ``\\s``); ``str.lower()`` and JVM lowercasing
    agree on ASCII (every corpus here) and on all but a handful of
    exotic Unicode case mappings; md5-of-UTF-8 and lexicographic min
    on hex digests are engine-independent.
    """
    from collections.abc import Iterator

    import pyarrow as pa

    src = ensure_parallelism(
        df.select(F.col(id_col), F.col(text_col)), id_col
    )

    def fp_batches(
        batches: Iterator[pa.RecordBatch],
    ) -> Iterator[pa.RecordBatch]:
        import hashlib
        import re

        ws = re.compile("[ \\t\\n\\x0b\\f\\r]+")  # Java regex \s
        for batch in batches:
            ids = batch.column(0).to_pylist()
            texts = batch.column(1).to_pylist()
            out_ids: list[int] = []
            out_fps: list[str] = []
            for i, s in zip(ids, texts):
                if s is None:
                    continue
                wl = [w for w in ws.split(s.lower()) if w != ""]
                n_sh = len(wl) - (k - 1)
                if n_sh < window:
                    continue
                hs = [
                    hashlib.md5(
                        " ".join(wl[j : j + k]).encode("utf-8")
                    ).hexdigest()
                    for j in range(n_sh)
                ]
                seen = set()
                for j in range(n_sh - (window - 1)):
                    m = min(hs[j : j + window])
                    if m not in seen:
                        seen.add(m)
                        out_ids.append(i)
                        out_fps.append(m)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(out_ids, type=pa.int64()),
                    pa.array(out_fps, type=pa.string()),
                ],
                names=[id_col, "fp"],
            )

    return src.mapInArrow(fp_batches, f"{id_col} long, fp string")


def winnow_pairs(
    fps: DataFrame,
    corpus: DataFrame,
    min_shared: int = 3,
    max_df: int | float = 0.2,
    id_col: str = "doc_id",
) -> DataFrame:
    """Near-duplicate candidate pairs from shared winnowing fingerprints
    → (id_a, id_b, n_shared), with a document-frequency cut on the
    fingerprint BEFORE the self-join.

    The cut is the skew fence: a boilerplate fingerprint shared by f
    documents (license headers, navigation chrome) would otherwise emit
    f² join rows — one hot shingle is a quadratic skew bomb at corpus
    scale. Same policy as ``ngram_jaccard_pairs``: a float ``max_df`` is
    a FRACTION of the corpus document count (cut = ceil(max_df·n_docs),
    broadcast in-plan), so the fence does not silently tighten as the
    corpus grows; an int is an absolute frequency for hand-tuned cases.
    Dropping ubiquitous fingerprints is recall-safe for near-dup work:
    a pair that shares ONLY corpus-wide boilerplate is not a duplicate.

    Plan shape: one exchange on the fingerprint key feeds the df
    window AND (via ReusedExchange) both self-join inputs; the
    Sort+Window+cut subtree above that exchange is evaluated once per
    join side (Spark reuses exchanges/subqueries, not arbitrary
    subplans), and at local estimates the planner broadcasts one rare
    side as the join build. At corpus scale the estimates grow past
    the broadcast threshold and the join degrades to the sort-merge
    form, whose required ordering the window sort already provides.

    r15 note (VERDICT r14 next #1, guide §2.3/§2.4): a per-key count
    PRE-AGGREGATION before the self-join was implemented four ways and
    measured against this form at sf0.1 — shared explicit repartition
    feeding groupBy-counts + broadcast ANTI join on the hot keys
    (Catalyst's PushDownLeftSemiAntiJoin splits the legs and re-runs
    the fingerprint kernel per leg: 17.2 vs 10.7 s CPU same-window);
    the same with a broadcast INNER join on the rare keys (legs still
    split: +3 s CPU, +0.4 s wall, 3 rounds); a ``pushdown_fence`` after
    the window (localCheckpoint loses the partitioning —
    UnknownPartitioning — and its materialization costs +4 s CPU); and
    a fenced keyed frame with map-side-partial counts (+2 s CPU). The
    window form won every same-window A/B (results identical in all
    four, 416 rows), so it stays; the pre-aggregation's 100 TB upside
    (hot membership rows never entering the shuffle) is real but every
    tested construction pays for it locally through kernel re-runs or
    fence materialization.

    Since r14 the fingerprint travels as its 64-bit ``xxhash64`` key
    from the first exchange on (guide §2.3 — shuffle 8-byte longs,
    hash/compare longs in the join and window, instead of 32-char md5
    hex strings; the fp string never leaves the input projection).
    Results are identical short of a 64-bit collision between two
    fingerprints of one corpus — the same documented tradeoff as
    ``ngram_jaccard_pairs``' hashed shingle keys (birthday bound
    ~1e-11 at 10^5 distinct fps).
    """
    from pyspark.sql import Window

    with_df = fps.select(
        F.col(id_col), F.xxhash64("fp").alias("__fpk")
    ).withColumn(
        "__df", F.count(F.lit(1)).over(Window.partitionBy("__fpk"))
    )
    if isinstance(max_df, float):
        if not 0.0 < max_df < 1.0:
            raise ValueError("relative max_df must be in (0, 1)")
        n_docs = corpus.agg(F.count(F.lit(1)).alias("__n_docs"))
        rare = (
            with_df.crossJoin(F.broadcast(n_docs))
            .where(F.col("__df") <= F.ceil(F.lit(max_df) * F.col("__n_docs")))
            .select(id_col, "__fpk")
        )
    else:
        rare = with_df.where(F.col("__df") <= max_df).select(id_col, "__fpk")
    a = rare.select(F.col(id_col).alias("id_a"), "__fpk")
    b = rare.select(F.col(id_col).alias("id_b"), "__fpk")
    return (
        a.join(b, on="__fpk")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
    )


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 25,
    pointer_jump: bool = False,
) -> DataFrame:
    """Connected components of an undirected pair graph → (node, component),
    component = the smallest node id reachable from ``node``.

    THE missing step between near-dup PAIR generation (MinHash / SimHash /
    winnowing / embedding LSH emit pairs) and actual deduplication: pairs
    must be collapsed into groups so each group keeps one canonical
    document. Min-label propagation: every node starts labeled with its
    own id; each round takes the min of its and its neighbors' labels;
    converged when no label changes. Deterministic — the fixed point is
    the component-min regardless of execution order — so the result is
    DuckDB-oracle-checkable (recursive CTE).

    Scale shape: each round is one equi-join of the edge list against the
    label table plus a groupBy-min — shuffles keyed on node id only, with
    map-side partial mins. Rounds needed = graph diameter; dup graphs are
    overwhelmingly tiny cliques/chains (diameter ≤ 3). The label frame is
    ``localCheckpoint``-ed each round to cut lineage growth — without it
    the plan doubles per iteration.

    ``pointer_jump=True`` adds path halving: after the neighbor-min step
    each node also adopts its LABEL's label (one extra self-join of the
    label table, keyed on label), so label chains collapse doubly per
    round and convergence drops from O(diameter) to O(log diameter)
    rounds — the Hash-to-Min trick (Rastogi et al., ICDE'13). Leave it
    off for dup graphs (tiny cliques/chains, diameter <= 3: the extra
    join costs more than the saved rounds); turn it on when components
    can be long paths (cross-snapshot chains, link graphs).
    """
    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    # materialize the (small) edge list once: every round joins against
    # it, and without the checkpoint each iteration would re-execute the
    # whole upstream pair-generation pipeline (same reason GraphX caches
    # its edge RDD before iterating)
    # Hash-partition the edge list by the join side ONCE, before the
    # checkpoint: LogicalRDD preserves outputPartitioning, and the label
    # frame arrives at each round's join already hashed on the same key
    # (it is the groupBy("node") output), so the per-round join runs
    # exchange-free — the only shuffle left per iteration is the
    # unavoidable groupBy("node") re-key from v-space to u-space.
    # Both orientations of each edge via ONE explode instead of a
    # self-union (r15, guide §2.4): the union's two legs are separate
    # subtrees, and only the exchange below them is reused — so the
    # edge list's FINAL aggregation/filter (the n_shared groupBy of the
    # pair generators feeding every dedup CC) executed twice per CC
    # call, measured 2.6 s CPU / 2× the pair-partial shuffle read in
    # v3_gated_trained. The explode emits (u,v) and (v,u) per input row
    # in the same task — identical row multiset, one upstream pass.
    sym = (
        e.select(
            F.expr(
                "explode(array(named_struct('u', u, 'v', v),"
                " named_struct('u', v, 'v', u))) AS __e"
            )
        )
        .select("__e.u", "__e.v")
        .repartition(F.col("v"))
        # lazy: round 0's single action materializes the edge RDD once
        # (both its consumers — the labels init and the neighbor join —
        # share the RDD inside that job) and pins it for later rounds;
        # an eager checkpoint here was a whole extra job per call
        .localCheckpoint(eager=False)
    )
    # Fused init (r14 optimization): the identity labeling's first
    # propagation round is computable INSIDE the init aggregate —
    # label₀(u) = min(u, min over neighbors v) — because round 1 of the
    # plain loop evaluates exactly min(u, min_{v∈N(u)} v) when labels
    # start as identities. The former node-distinct was already a
    # groupBy over the same exchange, so this adds one MIN to an
    # existing aggregate and removes one whole join+union+groupBy round
    # (and its convergence-probe job) from every CC call. Same fixed
    # point, same deterministic result.
    labels = (
        sym.groupBy("u")
        .agg(F.min("v").alias("__mn"))
        .select(
            F.col("u").alias("node"),
            F.least(F.col("u"), F.col("__mn")).alias("label"),
        )
        .localCheckpoint(eager=False)  # materialized by round 0's action
    )
    # Convergence probe (r14): each round carries the node's PREVIOUS
    # label alongside the new one — the labels leg of the union is
    # tagged, and the groupBy recovers the old label with one extra
    # conditional MAX (each node appears exactly once in that leg) —
    # so the round's own aggregate answers "did ANY node change?"
    # directly (labels are monotone non-increasing, so changed ⇔
    # new < old). The former sum-comparison probe could only detect
    # the fixed point one round LATE: it compared against the PREVIOUS
    # round's sum, so a graph that converged in round r still paid a
    # full confirmation round r+1 (join + groupBy + probe job). Dup
    # graphs are overwhelmingly cliques, which converge at the fused
    # init — for them this halves the round count (one job instead of
    # two). Reading the count from the SAME action that materializes
    # the round's lazy checkpoint keeps each iteration exactly ONE
    # Spark job.
    for _ in range(max_iter):
        nbr = sym.join(
            labels.withColumnRenamed("node", "v"), on="v"
        ).select(F.col("u").alias("node"), "label", F.lit(False).alias("__own"))
        merged = (
            labels.withColumn("__own", F.lit(True))
            .unionByName(nbr)
            .groupBy("node")
            .agg(
                F.min("label").alias("label"),
                F.max(F.when(F.col("__own"), F.col("label"))).alias("__old"),
            )
        )
        if pointer_jump:
            # path halving: label <- min(label, label[label]); the self-
            # join is keyed on the label column, so chains fold in half
            parent = merged.select(
                F.col("node").alias("label"), F.col("label").alias("glabel")
            )
            merged = (
                merged.join(parent, on="label", how="left")
                .select(
                    "node",
                    F.least(
                        F.col("label"), F.coalesce("glabel", "label")
                    ).alias("label"),
                    "__old",
                )
            )
        new_labels = merged.localCheckpoint(eager=False)
        n_changed = new_labels.agg(
            F.count(F.when(F.col("label") < F.col("__old"), 1)).alias("c")
        ).first()["c"]
        labels = new_labels.select("node", "label")
        if n_changed == 0:
            break
    return labels.select("node", F.col("label").alias("component"))


def substring_duplication(
    df: DataFrame,
    k: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact substring-level duplication stats (Lee et al., "Deduplicating
    Training Data Makes Language Models Better", ACL '22): every run of
    ``k`` consecutive words is a window; a window whose text occurs more
    than once ANYWHERE in the corpus (within or across documents) is
    duplicated. Returns one row per document:
    ``(id, n_windows, n_dup_windows)`` — the standard inputs to both
    span-removal and doc-level "mostly duplicated" gates.

    The reference has no counterpart (north-star component). Paper-default
    windows are 50 tokens; ``k`` is a parameter because the synthetic docs
    are 10-99 words.

    Plan shape: window GENERATION is the same zero-shuffle array math as
    ``winnow_fingerprints`` — one narrow map producing an xxhash64 per
    window (hashes are join keys only, never output, so they need no
    cross-engine reproducibility — only within-engine determinism).
    Then three narrow-row shuffles, each skew-bounded:

    1. groupBy (h, id) count — map-side combine collapses within-doc
       repeats of a hot window before anything crosses the wire;
    2. a SUM window over the h partitioning (corpus-total occurrences);
       a boilerplate window shared by every document sees at most one
       row per document here, not one per occurrence, because of (1);
    3. groupBy id over the dup-filtered rows, joined back to the narrow
       (id, n_windows) projection.

    At 100 TB nothing wide ever moves: shuffled rows are (8-byte hash,
    id, count). The blob column never leaves stage one.
    """
    from pyspark.sql import Window

    wl_expr = F.filter(F.split(F.lower(F.col(text_col)), WORD_SPLIT), lambda w: w != "")
    base = ensure_parallelism(
        df.select(F.col(id_col), wl_expr.alias("__wl")), id_col
    )
    wl = F.col("__wl")
    idx = F.when(
        F.size(wl) >= k, F.sequence(F.lit(1), F.size(wl) - (k - 1))
    ).otherwise(F.array().cast("array<int>"))
    # materialize the window-hash array as a projected column: no CSE
    # through HOF lambdas (same 10x trap as winnow/shingles)
    hashed = base.select(
        F.col(id_col),
        F.transform(
            idx, lambda i: F.xxhash64(F.concat_ws(" ", F.slice(wl, i, k)))
        ).alias("__ws"),
    )
    per_doc = hashed.select(
        F.col(id_col), F.size("__ws").cast("bigint").alias("n_windows"), "__ws"
    )
    wins = per_doc.select(F.col(id_col), F.explode("__ws").alias("h"))
    g1 = wins.groupBy("h", id_col).agg(F.count(F.lit(1)).alias("cnt"))
    tot = g1.withColumn(
        "tot", F.sum("cnt").over(Window.partitionBy("h"))
    )
    dup = (
        tot.where(F.col("tot") > 1)
        .groupBy(id_col)
        .agg(F.sum("cnt").alias("__nd"))
    )
    return per_doc.drop("__ws").join(dup, id_col, "left").select(
        F.col(id_col),
        F.col("n_windows"),
        F.coalesce(F.col("__nd"), F.lit(0).cast("bigint")).alias("n_dup_windows"),
    )


def remove_dup_spans(
    df: DataFrame,
    k: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Span-level deduplication (the REMOVAL step of Lee et al. ACL'22):
    delete every token covered by a ``k``-word window whose text occurs
    more than once anywhere in the corpus, and emit the cleaned text.
    Doc-level dedup throws away whole documents for one boilerplate
    paragraph; span removal keeps the unique remainder — the form the
    paper actually applies to C4/RealNews.

    Returns ``(id, n_tokens, n_removed, cleaned)`` where ``cleaned`` is
    the surviving tokens joined by single spaces.

    Plan shape: window hashing and corpus-wide duplicate marking are
    exactly :func:`substring_duplication`'s three narrow-row shuffles
    (hash, id, position) — the text column stays in the scan stage.  The
    one extra exchange is joining each document's duplicated-window
    START POSITIONS (a small int array per affected doc) back to the
    token array; AQE broadcasts it when the affected-doc set is small,
    else it is a plain co-partitioned join where the text moves once.
    Coverage testing is per-row array math, O(n_tokens x n_dup_starts)
    per document — fine for page-scale docs; for book-scale inputs swap
    the nested ``exists`` for a sorted two-pointer sweep in
    ``mapInPandas`` (same surrounding plan).
    """
    from pyspark.sql import Window

    wl_expr = F.filter(
        F.split(F.lower(F.col(text_col)), WORD_SPLIT), lambda w: w != ""
    )
    base = ensure_parallelism(
        df.select(F.col(id_col), wl_expr.alias("__wl")), id_col
    )
    wl = F.col("__wl")
    idx = F.when(
        F.size(wl) >= k, F.sequence(F.lit(1), F.size(wl) - (k - 1))
    ).otherwise(F.array().cast("array<int>"))
    hashed = base.select(
        F.col(id_col),
        "__wl",
        F.transform(
            idx, lambda i: F.xxhash64(F.concat_ws(" ", F.slice(wl, i, k)))
        ).alias("__ws"),
    )
    wins = hashed.select(
        F.col(id_col), F.posexplode("__ws").alias("__pos0", "h")
    ).select(F.col(id_col), (F.col("__pos0") + 1).alias("s"), "h")
    g1 = wins.groupBy("h", id_col).agg(
        F.collect_list("s").alias("__starts_h"),
        F.count(F.lit(1)).alias("cnt"),
    )
    tot = g1.withColumn("tot", F.sum("cnt").over(Window.partitionBy("h")))
    dup_starts = (
        tot.where(F.col("tot") > 1)
        .select(F.col(id_col), F.explode("__starts_h").alias("s"))
        .groupBy(id_col)
        .agg(F.array_sort(F.collect_list("s")).alias("__dups"))
    )
    joined = hashed.drop("__ws").join(dup_starts, on=id_col, how="left")
    dups = F.coalesce(F.col("__dups"), F.array().cast("array<int>"))
    kept_idx = F.filter(
        F.sequence(F.lit(1), F.size(wl)),
        lambda j: ~F.exists(
            dups, lambda s: (s <= j) & (s >= j - F.lit(k - 1))
        ),
    )
    out = joined.select(
        F.col(id_col),
        F.size(wl).cast("bigint").alias("n_tokens"),
        kept_idx.alias("__kept"),
        "__wl",
    ).select(
        F.col(id_col),
        "n_tokens",
        (F.col("n_tokens") - F.size("__kept")).cast("bigint").alias("n_removed"),
        F.concat_ws(
            " ", F.transform("__kept", lambda j: F.element_at(F.col("__wl"), j))
        ).alias("cleaned"),
    )
    return out
