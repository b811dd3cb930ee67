"""Streaming documents source + incremental shard-manifest twin.

``shard_manifest`` (sinks.training_shards) is built from commutative,
associative aggregates — count, sum, bit_xor — which is exactly what a
streaming groupBy maintains incrementally. Run as a stream over a
drop-zone of document files, the manifest UPDATES AS SHARDS LAND: when
the corpus ingest finishes, the streaming manifest equals the batch
manifest bit-for-bit (parity-tested), so a trainer can watch one table
instead of re-scanning the corpus after every delivery. Same mergeable-
state family as the HLL register twin (events_stream).

Scale: state is exactly n_shards rows FOREVER — the same bounded-state
argument as the HLL registers; the per-batch work is the narrow-map
shard assignment plus one partial aggregation.
"""

from __future__ import annotations

import hashlib
import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from wikidatabots_spark.sinks.compaction import resolve_store
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

DOCS_FILE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("text", StringType()),
        StructField("lang", StringType()),
        StructField("source", StringType()),
        StructField("n_chars", LongType()),
    ]
)

# Phase profiler (guide §1: measure first). Off unless SPARK_GRAFT_PROF=1;
# prints wall-clock deltas between sink phases to stderr so per-batch cost
# attributes to a phase (probe, CC, write, fold) instead of one opaque
# number. No effect on any plan.
_PROF = os.environ.get("SPARK_GRAFT_PROF") == "1"
_PROF_T: list[float] = [0.0]


def _pmark(label: str) -> None:
    if not _PROF:
        return
    import sys
    import time

    now = time.perf_counter()
    print(
        f"      [prof] +{now - _PROF_T[0]:6.3f}s {label}",
        file=sys.stderr,
        flush=True,
    )
    _PROF_T[0] = now


def read_documents_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the documents table (drop-zone staging,
    same pattern as ``read_events_stream``; documents carry no event
    time, so no conversion branch is needed)."""
    src = os.path.join(sf_dir, "documents.parquet")
    stage = os.path.join(
        tempfile.gettempdir(),
        "wdb_spark_stream_docs",
        hashlib.sha256(src.encode()).hexdigest()[:16],
    )
    os.makedirs(stage, exist_ok=True)
    link = os.path.join(stage, "documents.parquet")
    if not os.path.exists(link):
        try:
            os.symlink(src, link)
        except OSError:
            import shutil

            shutil.copyfile(src, link)
    return spark.readStream.schema(DOCS_FILE_SCHEMA).format("parquet").load(stage)


def shard_manifest_stream(docs: DataFrame, n_shards: int = 64) -> DataFrame:
    """Streaming twin of ``sinks.training_shards.shard_manifest``: the
    identical aggregation expression over a streaming frame — count,
    byte total, and XOR checksum per shard, maintained incrementally
    with state bounded at ``n_shards`` rows."""
    from wikidatabots_spark.sinks.training_shards import shard_manifest

    return shard_manifest(docs, n_shards)


def incremental_dedup_probe_stream(
    new_docs: DataFrame, index: DataFrame
) -> DataFrame:
    """Streaming incremental dedup: arriving documents are MinHash-
    signed ROW-BY-ROW (``minhash_signature_cols`` is a narrow map — no
    aggregation, hence no streaming state at all) and their band rows
    probe a STATIC band index of the existing corpus via a stream-static
    equi-join. Emits (new_id, old_id, band_idx) candidate matches in
    append mode as files land — the drop-zone version of
    ``dedup_incremental_index``.

    Scale: the static index is the big side and never moves (at corpus
    scale it is a bucketed table on (band_idx, band_hash), stored
    bucket-capped via ``cap_band_buckets`` so a boilerplate cluster
    cannot hand every probing doc an unbounded match fan-out); each
    micro-batch ships only the new docs' band rows. State: zero — the
    probe is stateless, so there is nothing to watermark or expire.
    Batch/stream parity is exact because signatures depend only on each
    doc's own text (parity-tested in tests/test_streaming.py).
    """
    from wikidatabots_spark.operators.dedup import minhash_band_table

    probe = minhash_band_table(new_docs).select(
        F.col("doc_id").alias("new_id"), "band_idx", "band_hash"
    )
    idx = index.select(
        F.col("doc_id").alias("old_id"), "band_idx", "band_hash"
    )
    return probe.join(idx, ["band_idx", "band_hash"])


def dsir_score_stream(
    docs: DataFrame, model_ppm: dict[int, int]
) -> DataFrame:
    """Streaming DSIR scoring: documents arriving from the drop zone are
    importance-scored against a batch-trained model with ZERO streaming
    state — the model (≤1024 (bucket, lr_ppm) rows, KB-sized like the
    BPE vocab frames) is embedded as a LITERAL map, so scoring is a pure
    narrow per-row map: imp_ppm = Σ_tokens lr_ppm[bucket(token)]. This
    is the production shape for domain-targeted ingest — train DSIR
    once on the existing corpus (``plans.llmdata.dsir_occ_and_model``),
    then score every arriving document in-flight and route/weight it
    before it lands.

    Identical to the batch scorer by construction: the batch path sums
    cnt·lr_ppm over the per-doc occurrence aggregate; this path sums
    lr_ppm token-by-token — the same integer total (parity-tested).
    Tokens whose bucket is missing from the model contribute 0 (the
    out-of-vocabulary policy; cannot occur when the model was trained
    on a corpus covering the stream's buckets, e.g. the parity test).

    Scale/state: no aggregation, no watermark, no state store rows at
    all — the stream's progress metrics report zero state operators.
    At 1024 buckets the literal map is ~16 KB of plan; for much larger
    models swap the literal for a broadcast stream-static join on
    bucket (the `incremental_dedup_probe_stream` pattern).
    """
    from pyspark.sql import functions as F

    from wikidatabots_spark.operators.textstats import CLS_BUCKETS, _words_sql

    # Dense literal-ARRAY model (r14 optimization, guide §1.2 per-task
    # work): the former literal create_map was probed per token with
    # GetMapValue — a LINEAR scan of up to 1024 entries per lookup, so
    # every token paid O(|model|) comparisons. Buckets are
    # 0..CLS_BUCKETS-1 by construction, so the model densifies into a
    # CLS_BUCKETS-slot array (absent buckets = 0, the same value the
    # old coalesce(NULL, 0) produced) and the lookup is one O(1)
    # element_at. Constant-folded to a single array literal; built as
    # one SQL string (the §7.3 plan-build discipline).
    slots = [0] * CLS_BUCKETS
    for b, v in model_ppm.items():
        slots[int(b)] = int(v)
    arr_sql = "array(" + ",".join(f"{v}L" for v in slots) + ")"
    bucket_sql = (
        "CAST(CAST(conv(substring(md5(w), 1, 4), 16, 10) AS BIGINT)"
        f" % {CLS_BUCKETS} AS INT)"
    )
    imp_sql = (
        f"aggregate({_words_sql('text')}, CAST(0 AS BIGINT),"
        f" (acc, w) -> acc + element_at({arr_sql}, {bucket_sql} + 1))"
    )
    return docs.select(
        "doc_id", "source", F.expr(imp_sql).alias("imp_ppm")
    )


# Sentinel component id marking "this node currently has NO label"
# (deleted, or singleton-ized by a deletion). doc_ids are non-negative
# longs, so -1 can never collide with a real component minimum. A
# sentinel (rather than a NULL) keeps the merge-on-read max(struct)
# total-ordered with no null-ordering edge cases.
TOMBSTONE_COMPONENT = -1

# Width (hex chars of the md5 band hash) of the index partition prefix:
# 1 → 16 leaf partitions per batch. Probes filter on this column with a
# literal IN list, so the scan partition-prunes to the prefixes the
# arriving batch actually hashes into. Widen to 2 (256 partitions) when
# micro-batches are small relative to the hash space; at full corpus
# scale the production layout is a bucketed table on (band_idx,
# band_hash) and this prefix becomes the bucket function.
_BAND_PFX_LEN = 1


def _band_pfx():
    return F.substring("band_hash", 1, _BAND_PFX_LEN)


# Explicit store schemas for the per-batch reads (r14 optimization,
# guide §6/§7.3): ``spark.read.parquet`` without a schema reads parquet
# footers to infer one on the DRIVER on every invocation — the graph
# sink issues several store reads per micro-batch, so the inference
# passes were pure critical-path driver time. Types are pinned by the
# writers (band rows from minhash_band_table, label deltas from CC,
# verdicts from ngram_collisions); the partition columns (band_pfx,
# __batch_id) are declared too, which also pins band_pfx to STRING —
# directory-value inference would guess INT for an all-digit hex
# prefix set. Compaction folds keep schema inference: they must
# preserve whatever physical types the files hold.
_LABELS_STORE_SCHEMA = "node long, component long, __batch_id int"
_INDEX_STORE_SCHEMA = (
    "doc_id long, band_idx int, band_hash string,"
    " band_pfx string, __batch_id int"
)
_TOMB_STORE_SCHEMA = "doc_id long, __batch_id int"
_FLAGGED_STORE_SCHEMA = (
    "train_id long, n_collided_grams long, n_bench_docs long,"
    " __batch_id int"
)


def _has_parquet(path: str) -> bool:
    """True iff ``path`` holds at least one parquet footer. An
    all-singleton batch writes an EMPTY delta (zero partitions, maybe a
    bare _SUCCESS marker), so existence/listdir checks are not enough —
    reading such a directory throws UNABLE_TO_INFER_SCHEMA."""
    if not os.path.isdir(path):
        return False
    for _root, _dirs, files in os.walk(path):
        if any(f.endswith(".parquet") for f in files):
            return True
    return False


def read_band_index(
    spark: SparkSession,
    index_path: str,
    tombstones_path: str | None = None,
    before_batch: int | None = None,
    prefixes: list[str] | None = None,
) -> DataFrame:
    """Pruned, tombstone-aware read of the accumulated band index.

    Two literal predicates land as PARTITION filters on the parquet
    scan (plan-asserted in tests/test_streaming.py): ``__batch_id <
    before_batch`` (the replay fence — a re-run of batch N never sees
    the crashed attempt's own index rows, so its candidate generation
    and bucket-cap ranks are identical to a clean first run) and
    ``band_pfx IN (...)`` (probe pruning — only directories holding
    band hashes the arriving batch can match are scanned). Deleted
    documents are removed by one anti-join against the tombstone store
    (``minhash_band_index_delete``'s rule); the anti-join runs BEFORE
    any probe-time bucket cap so tombstoned members neither consume
    cap slots nor serve as anchors.

    The anti-join is ORDERED by batch id: an index row is suppressed
    only by a tombstone written in a LATER batch (``tomb.__batch_id >
    idx.__batch_id``). A doc deleted in batch N and re-inserted in
    batch N+1 (the docstring's recommended delete-first split) keeps
    its N+1 band rows probe-visible — a doc_id-only anti-join would
    suppress them forever and later near-dups could never link to the
    re-inserted doc. Both batch-id columns are partition columns, so
    the ordering predicate adds no data-column cost.
    """
    if not _has_parquet(index_path):
        return spark.createDataFrame(
            [], "doc_id long, band_idx int, band_hash string"
        )
    idx = spark.read.schema(_INDEX_STORE_SCHEMA).parquet(
        resolve_store(index_path)
    )
    if before_batch is not None:
        idx = idx.where(F.col("__batch_id") < F.lit(int(before_batch)))
    if prefixes is not None:
        idx = idx.where(F.col("band_pfx").isin(list(prefixes)))
    idx = idx.select("doc_id", "band_idx", "band_hash", "__batch_id")
    if tombstones_path and _has_parquet(tombstones_path):
        tomb = spark.read.schema(_TOMB_STORE_SCHEMA).parquet(
            resolve_store(tombstones_path)
        )
        if before_batch is not None:
            tomb = tomb.where(F.col("__batch_id") < F.lit(int(before_batch)))
        tomb = tomb.select(
            F.col("doc_id").alias("__t_doc"),
            F.col("__batch_id").alias("__t_batch"),
        )
        idx = idx.join(
            tomb,
            (F.col("doc_id") == F.col("__t_doc"))
            & (F.col("__t_batch") > F.col("__batch_id")),
            "left_anti",
        )
    return idx.select("doc_id", "band_idx", "band_hash")


def _merged_labels(
    spark: SparkSession, labels_path: str, before_batch: int | None = None
) -> DataFrame:
    """Merge-on-read of the label DELTA store: latest ``__batch_id`` row
    per node (max over (batch, component) structs — one row per node
    per batch by construction, so the struct max IS the newest row),
    dropping tombstoned nodes. ``before_batch`` is the replay fence:
    batch N's own re-run reads only deltas `< N`, never the crashed
    attempt's."""
    if not _has_parquet(labels_path):
        return spark.createDataFrame([], "node long, component long")
    all_labels = spark.read.schema(_LABELS_STORE_SCHEMA).parquet(
        resolve_store(labels_path)
    )
    if before_batch is not None:
        all_labels = all_labels.where(
            F.col("__batch_id") < F.lit(int(before_batch))
        )
    cur = (
        all_labels.groupBy("node")
        .agg(F.max(F.struct("__batch_id", "component")).alias("s"))
        .select("node", F.col("s.component").alias("component"))
    )
    return cur.where(F.col("component") != F.lit(TOMBSTONE_COMPONENT))


def dsir_model_maintenance(partials_path: str, compact_every: int | None = None):
    """foreachBatch sink maintaining the DSIR importance model AS THE
    CORPUS GROWS: each micro-batch appends only its per-bucket class
    counts (``dsir_class_counts`` over the batch's occurrences — pure
    additive counters, ≤1024 rows per batch), and ``merged_dsir_model``
    serves the current model by summing partials and applying the same
    deterministic log-ratio expression as the batch trainer. Because
    the counts are exact integers and the formula is shared code
    (``dsir_model_from_counts``), the streamed model is BIT-IDENTICAL
    to retraining from scratch on everything seen so far
    (parity-tested) — the production shape for domain-targeted ingest:
    the scorer (``dsir_score_stream``) periodically reloads a model
    that tracks the corpus with per-batch work proportional to the
    batch, never the history.

    Replay fence: partials carry ``__batch_id`` as a partition column
    written with dynamic partition overwrite (the
    ``dedup_graph_maintenance`` rule, strictly stronger than
    ``rollup_maintenance``'s merge-time dedup), so an at-least-once
    replay overwrites its own partition and the merged read needs no
    dedup at all (double-invocation-tested).

    State: ≤1024 rows per batch partition; ``compact_every`` wires the
    self-bounding retention fold (``compact_dsir_partials`` — the
    additive-counter analogue of ``compact_labels``) so the store holds
    O(compact_every) partitions on an unbounded stream instead of one
    per batch forever (VERDICT r11 next #6).
    """
    from wikidatabots_spark.plans.llmdata import (
        dsir_class_counts,
        dsir_occurrences,
    )
    from wikidatabots_spark.sinks.compaction import ensure_linked_store

    def apply(batch: DataFrame, batch_id: int) -> None:
        batch_id = int(batch_id)
        ensure_linked_store(partials_path)
        cls = dsir_class_counts(
            dsir_occurrences(batch.select("doc_id", "source", "text"))
        )
        (
            # repartition before the partitioned write (r13): without it
            # every shuffle task emits its own file into the batch dir
            # (32 files for a ~1k-row counter delta); AQE sizes the
            # exchange, so the tiny delta lands as one file
            cls.withColumn("__batch_id", F.lit(batch_id))
            .repartition(F.col("__batch_id"), F.col("bucket"))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("__batch_id")
            .parquet(partials_path)
        )
        if compact_every and batch_id % compact_every == compact_every - 1:
            compact_dsir_partials(batch.sparkSession, partials_path)

    return apply


def compact_dsir_partials(
    spark: SparkSession, partials_path: str, keep_last: int = 1
) -> int:
    """Retention compaction for the DSIR class-count partials store
    (VERDICT r11 next #6): fold every ``__batch_id`` partition except
    the newest ``keep_last`` into ONE base partition holding the
    per-bucket SUM of the folded counters — exact by the counters'
    defining additivity, so ``merged_dsir_model`` is bit-identical
    before and after (test-pinned; the model formula sees the same
    integer totals). Returns the number of partitions folded away.

    The newest ``keep_last`` partitions stay un-folded for the replay
    fence: a replayed micro-batch overwrites exactly its own partition
    (dynamic partition overwrite), which must not be the base — folding
    the newest batch into the base would let its replay REPLACE the
    folded history. Published via ``publish_dir_swap`` (atomic pointer
    retarget; crash at any step leaves the previous store current)."""
    import shutil
    import tempfile

    from wikidatabots_spark.sinks.compaction import publish_dir_swap

    part_ids = sorted(
        int(d.split("=", 1)[1])
        for d in os.listdir(partials_path)
        if d.startswith("__batch_id=")
    )
    fold = part_ids[:-keep_last] if keep_last > 0 else part_ids
    if len(fold) <= 1:
        return 0
    base_id = fold[-1]
    raw = spark.read.parquet(resolve_store(partials_path))
    bid_t = raw.schema["__batch_id"].dataType
    # keep the counters' exact physical types so repeated compaction is
    # schema-stable across mixed-file scans
    ct_t = raw.schema["c_t"].dataType
    cr_t = raw.schema["c_r"].dataType
    base = (
        raw.where(F.col("__batch_id") <= F.lit(base_id))
        .groupBy("bucket")
        .agg(
            F.sum("c_t").cast(ct_t).alias("c_t"),
            F.sum("c_r").cast(cr_t).alias("c_r"),
        )
        .withColumn("__batch_id", F.lit(base_id).cast(bid_t))
    )
    kept = raw.where(F.col("__batch_id") > F.lit(base_id)).select(
        "bucket", "c_t", "c_r", "__batch_id"
    )
    tmp = tempfile.mkdtemp(
        prefix="dsir_compact_",
        dir=os.path.dirname(os.path.abspath(partials_path)),
    )
    staged = os.path.join(tmp, "data")
    (
        base.unionByName(kept)
        .repartition(F.col("__batch_id"), F.col("bucket"))
        .write.mode("overwrite")
        .partitionBy("__batch_id")
        .parquet(staged)
    )
    publish_dir_swap(staged, partials_path)
    shutil.rmtree(tmp, ignore_errors=True)
    return len(fold) - 1


def merged_dsir_model(spark: SparkSession, partials_path: str) -> DataFrame:
    """The current DSIR model from the maintenance store: sum the
    per-batch class-count partials per bucket (exact integer merge —
    the counters' defining property) and apply the shared
    ``dsir_model_from_counts`` expression. Bit-identical to batch
    retraining on the full corpus seen so far."""
    from wikidatabots_spark.plans.llmdata import dsir_model_from_counts

    cls = (
        spark.read.parquet(resolve_store(partials_path))
        .groupBy("bucket")
        .agg(F.sum("c_t").alias("c_t"), F.sum("c_r").alias("c_r"))
    )
    return dsir_model_from_counts(cls)


def decontamination_gate(
    bench: DataFrame,
    flagged_path: str,
    n: int = 5,
    compact_every: int | None = None,
    pool=None,
):
    """foreachBatch sink flagging arriving documents that share any
    word n-gram with a STATIC benchmark/eval set BEFORE they land —
    in-flight decontamination, the production complement of the batch
    ``text_contamination`` sweep (scan the delivery, not the corpus).

    The benchmark gram table is computed ONCE (fenced) when the gate is
    built; each micro-batch reduces to its own distinct (id, gram) rows
    and probes it with the identical ``ngram_collisions`` join. Zero
    cross-batch state: a document's collisions depend only on its own
    text and the static benchmark, so the union of per-batch outputs
    IS the full-corpus decontamination — parity-tested against the
    batch operator over the same documents.

    Replay fence: flagged rows are partitioned by ``__batch_id`` and
    written with dynamic partition overwrite (the
    ``dedup_graph_maintenance`` rule), so at-least-once replays are
    no-ops.

    Scale: per batch, batch-sized gram reduction + one broadcast join
    against the (eval-set-sized, tiny by definition) benchmark grams;
    the benchmark text is never re-read after the gate is built.
    """
    from wikidatabots_spark.functions.scale import pushdown_fence
    from wikidatabots_spark.operators.textstats import (
        gram_table,
        ngram_collisions,
    )

    from wikidatabots_spark.sinks.compaction import ensure_linked_store

    bg = pushdown_fence(gram_table(bench, n, out_id="bench_id"))
    # Prewarm (r14 optimization, guide §2.6): the fenced benchmark gram
    # table's first action used to run INSIDE batch 0's probe — pure
    # critical-path time. With a pool, its materialization is kicked off
    # at gate construction on that pool, overlapped with whatever the
    # caller does before the first trigger (the seated queries stage
    # their drop-zone files and start the stream meanwhile). The first
    # probe WAITS on the future rather than racing it: two concurrent
    # first-actions on a lazy localCheckpoint would double-compute it.
    prewarm = [pool.submit(lambda: bg.count())] if pool is not None else []

    def _write(flagged: DataFrame, batch_id: int) -> None:
        (
            # repartition before the partitioned write (r13): bounds the
            # verdict delta to AQE-sized files instead of one per task
            flagged.withColumn("__batch_id", F.lit(batch_id))
            .repartition(F.col("__batch_id"), F.col("train_id"))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("__batch_id")
            .parquet(flagged_path)
        )
        if compact_every and batch_id % compact_every == compact_every - 1:
            compact_flagged(flagged.sparkSession, flagged_path)

    def apply(batch: DataFrame, batch_id: int):
        batch_id = int(batch_id)
        if prewarm:
            prewarm.pop().result()
        ensure_linked_store(flagged_path)
        flagged = ngram_collisions(batch, None, n=n, bench_grams=bg)
        if pool is None:
            _write(flagged, batch_id)
            return flagged
        # composed-sink form (guide §2.6): the verdicts are computed
        # once into an eager checkpoint and handed BACK to the caller —
        # the admission anti-join consumes them in-memory instead of
        # re-reading the store partition it just wrote — while the
        # store append (+ its retention fold) runs on the caller's
        # thread pool, overlapped with downstream batch work. The
        # caller must resolve the returned future before its sink
        # returns: the engine's batch commit may not precede the store
        # write (the replay fence).
        flags = flagged.localCheckpoint(eager=True)
        return flags, pool.submit(_write, flags, batch_id)

    return apply


def compact_flagged(
    spark: SparkSession, flagged_path: str, keep_last: int = 1
) -> int:
    """Retention fold for the decontamination-verdict store: rewrite
    every ``__batch_id`` partition except the newest ``keep_last`` into
    one base partition (a plain re-partition — verdict rows are
    append-only facts keyed by a document that arrives once, so there
    is no merge/suppression semantics to materialize; the fold only
    bounds the partition/file count the serving union scans). The
    newest partitions stay un-folded so a replayed batch's dynamic
    partition overwrite targets its own partition, never the base.
    Published atomically via ``publish_dir_swap``."""
    import shutil
    import tempfile

    from wikidatabots_spark.sinks.compaction import publish_dir_swap

    part_ids = sorted(
        int(d.split("=", 1)[1])
        for d in os.listdir(flagged_path)
        if d.startswith("__batch_id=")
    )
    fold = part_ids[:-keep_last] if keep_last > 0 else part_ids
    if len(fold) <= 1:
        return 0
    base_id = fold[-1]
    raw = spark.read.parquet(resolve_store(flagged_path))
    bid_t = raw.schema["__batch_id"].dataType
    data_cols = [c for c in raw.columns if c != "__batch_id"]
    base = raw.where(F.col("__batch_id") <= F.lit(base_id)).select(
        *data_cols
    ).withColumn("__batch_id", F.lit(base_id).cast(bid_t))
    kept = raw.where(F.col("__batch_id") > F.lit(base_id)).select(
        *data_cols, "__batch_id"
    )
    tmp = tempfile.mkdtemp(
        prefix="flagged_compact_",
        dir=os.path.dirname(os.path.abspath(flagged_path)),
    )
    staged = os.path.join(tmp, "data")
    (
        base.unionByName(kept)
        .repartition(F.col("__batch_id"), F.col("train_id"))
        .write.mode("overwrite")
        .partitionBy("__batch_id")
        .parquet(staged)
    )
    publish_dir_swap(staged, flagged_path)
    shutil.rmtree(tmp, ignore_errors=True)
    return len(fold) - 1


def flagged_documents(
    spark: SparkSession, flagged_path: str, batch_id: int | None = None
) -> DataFrame:
    """The accumulated decontamination verdicts: one row per flagged
    document across all batches (documents arrive once, so no
    merge-on-read is needed — the union IS the current view).

    ``batch_id`` prunes the read to that batch's ``__batch_id``
    partition (r14 optimization): a document's verdict depends only on
    its own text and lands in its arrival batch's partition, so a
    same-batch admission anti-join (the ingest sink) needs exactly that
    partition — a batch-sized right side instead of the whole verdict
    history, and a partition-pruned scan instead of a full-store
    listing. Serving reads (no ``batch_id``) still see every batch."""
    if not _has_parquet(flagged_path):
        return spark.createDataFrame(
            [], "train_id long, n_collided_grams long, n_bench_docs long"
        )
    out = spark.read.schema(_FLAGGED_STORE_SCHEMA).parquet(
        resolve_store(flagged_path)
    )
    if batch_id is not None:
        out = out.where(F.col("__batch_id") == F.lit(int(batch_id)))
    return out.select("train_id", "n_collided_grams", "n_bench_docs")


def dedup_graph_maintenance(
    index_path: str,
    labels_path: str,
    tombstones_path: str | None = None,
    op_col: str = "__op",
    compact_every: int | None = None,
):
    """foreachBatch sink maintaining the dedup graph EXACTLY as document
    micro-batches land — the streaming wiring of
    ``dedup_components_incremental``'s insertion theorem plus
    ``components_after_delete``'s bounded-blast-radius deletion theorem
    (each proves one prior/new step; sequential micro-batches compose
    by induction, parity-tested in tests/test_streaming.py).

    Per micro-batch: (a) sign the new docs (narrow — signatures depend
    only on each doc's own text, the property that makes the index
    append-only), (b) if the batch carries an ``op_col`` column, rows
    with op ``"delete"`` are tombstones: their components are
    recomputed over surviving members only (deletion can SPLIT a
    component, so labels cannot be patched — but the blast radius is
    bounded at the affected components), (c) probe the accumulated
    index (partition-pruned via ``read_band_index``, bucket-capped at
    probe time — stored uncapped, as the deletion twin requires),
    (d) CONTRACT each probe hit's prior endpoint to its component hub
    (the component min — always a real node), so within-batch capped
    pairs plus hub edges are all CC ever sees: prior members never
    enter the iteration and are relabeled by ONE post-CC equi-join on
    their old component id (r11, VERDICT r10 next #3; the r10 shape
    injected star edges per touched member, paying CC rounds and
    shuffle proportional to member count), (e) one min-label CC over
    that contracted edge set, (f) write the batch's label DELTA — only nodes of touched /
    affected components, with ``TOMBSTONE_COMPONENT`` rows for nodes
    that lost their label — never a full snapshot. Contract: a doc_id
    must not appear as both an insert and a delete in the SAME batch
    (a delete tombstones the id's index rows going forward, so the
    same-batch insert would be born dead) — split such ops across
    batches, delete first.

    Replay fence (foreachBatch is at-least-once): every store write is
    idempotent — labels, index, and tombstones all carry ``__batch_id``
    as a PARTITION column and are written with dynamic partition
    overwrite, so a replay of batch N overwrites exactly its own
    partitions instead of double-appending; every store READ inside the
    batch filters ``__batch_id < N``, so a replay that crashed after a
    partial write recomputes from exactly the pre-batch state
    (double-invocation-tested). Contrast ``rollup_maintenance``, whose
    commutative partials can instead dedup on batch id at merge time.

    Scale: per batch the work is batch-sized signatures + a
    partition-pruned equi-join probe + CC over the touched components
    (star-compressed, diameter ~2) plus batch edges; the label write is
    delta-sized. Yesterday's corpus is touched only through (id, band)
    rows and (node, component) ids, never text. The merge-on-read
    current view scans one narrow row per node-version until
    ``compact_labels`` folds history down.
    """
    from wikidatabots_spark.functions.scale import pushdown_fence
    from wikidatabots_spark.operators.dedup import (
        band_pairs,
        cap_band_buckets,
        connected_components,
        minhash_band_table,
    )

    tomb_path = tombstones_path or index_path.rstrip("/") + "_tombstones"

    def _write_fenced(
        df: DataFrame, path: str, *part_cols: str, spread: str | None = None
    ) -> None:
        # dynamic partition overwrite = the replay fence: a re-run of
        # the same batch id replaces its own partitions, byte-for-byte
        # idempotent; other batches' partitions are never touched. The
        # store lives behind a symlink pointer from birth so
        # compact_labels publishes with ONE atomic rename (no window
        # where the store is absent, VERDICT r10 next #1).
        #
        # Repartition on the partition columns before the write (r13):
        # without it EVERY write task that holds rows for a partition
        # value emits its own file there — measured 512 files per batch
        # (32 tasks × 16 band prefixes) for a ~3k-row index delta, and
        # every later probe/fold pays the per-file listing+open cost; at
        # cluster scale that is tasks×prefixes files per batch, the
        # classic small-files failure. ``spread`` adds one high-card
        # column so a large batch still writes in parallel; no explicit
        # partition count is given, so AQE sizes the exchange (tiny
        # delta → one file per touched partition dir, huge delta →
        # proportional).
        from wikidatabots_spark.sinks.compaction import ensure_linked_store

        keys = [F.col(c) for c in part_cols]
        if spread is not None:
            keys.append(F.col(spread))
        ensure_linked_store(path)
        (
            df.repartition(*keys)
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(*part_cols)
            .parquet(path)
        )

    def apply(batch: DataFrame, batch_id: int) -> None:
        from concurrent.futures import ThreadPoolExecutor

        spark = batch.sparkSession
        batch_id = int(batch_id)
        _pmark(f"graph b{batch_id}: enter")
        if op_col in batch.columns:
            deletes = pushdown_fence(
                batch.where(F.col(op_col) == F.lit("delete")).select("doc_id")
            )
            inserts = batch.where(
                F.coalesce(F.col(op_col) != F.lit("delete"), F.lit(True))
            ).drop(op_col)
        else:
            deletes = None
            inserts = batch
        bands_new = pushdown_fence(minhash_band_table(inserts))
        have_state = _has_parquet(index_path)

        # The band-index append depends only on bands_new — not on the
        # probe, CC, or label delta — so it runs on a background thread
        # overlapped with the CC critical path (guide §2.6: actions are
        # only sequential because driver code calls them sequentially).
        # It is submitted only AFTER (a) bands_new is materialized by a
        # main-thread action (its lazy fence must not race two
        # first-actions) and (b) the probe's read_band_index plan is
        # built (file listing done), so the concurrent append — which
        # this batch's probe excludes anyway via __batch_id < batch_id —
        # can never confuse the probe's listing.
        _idx_pool = ThreadPoolExecutor(max_workers=1)

        def _index_write() -> None:
            _write_fenced(
                bands_new.withColumn("band_pfx", _band_pfx()).withColumn(
                    "__batch_id", F.lit(batch_id)
                ),
                index_path,
                "band_pfx",
                "__batch_id",
                spread="band_hash",
            )

        if not have_state:
            delta = connected_components(band_pairs(bands_new)).select(
                "node", "component"
            )
            _pmark(f"graph b{batch_id}: init CC")
            _idx_fut = _idx_pool.submit(_index_write)
        else:
            # Building the merged-labels fence COMPILES a full physical
            # plan on the driver (a lazy localCheckpoint needs toRdd) —
            # measured 0.45-0.8 s of single-threaded dead time per batch
            # (guide §7.3). It depends on nothing this batch computes,
            # so build it on a worker thread overlapped with the
            # signature materialization + prefix collect below (guide
            # §2.6); joined before first use either branch.
            _labels_pool = ThreadPoolExecutor(max_workers=1)
            try:
                _labels_fut = _labels_pool.submit(
                    lambda: pushdown_fence(
                        _merged_labels(spark, labels_path, before_batch=batch_id)
                    )
                )
                if deletes is not None:
                    prior_labels = _labels_fut.result()
                    _pmark(f"graph b{batch_id}: merged-labels plan built")
                members = None
                recomputed_del = None
                if deletes is not None:
                    dd = deletes.select(F.col("doc_id").alias("node"))
                    affected = (
                        prior_labels.join(dd, "node", "left_semi")
                        .select("component")
                        .distinct()
                    )
                    members = pushdown_fence(
                        prior_labels.join(affected, "component", "left_semi")
                    )
                    survivors = members.join(dd, "node", "left_anti").select(
                        F.col("node").alias("doc_id")
                    )
                    # band rows of surviving members of affected components
                    # only: buckets never span components, so probe-time
                    # anchor ranks inside this slice equal the full
                    # post-deletion ranks (components_after_delete theorem)
                    sub = (
                        read_band_index(
                            spark, index_path, tomb_path, before_batch=batch_id
                        )
                        .join(deletes, "doc_id", "left_anti")
                        .join(survivors, "doc_id", "left_semi")
                    )
                    recomputed_del = pushdown_fence(
                        connected_components(band_pairs(sub)).select(
                            "node", "component"
                        )
                    )
                    # current view for the insertion step = prior labels
                    # with affected components replaced by their recompute
                    post_labels = pushdown_fence(
                        prior_labels.join(
                            affected, "component", "left_anti"
                        ).unionByName(recomputed_del)
                    )
                # insertion probe: partition-pruned to the prefixes this
                # batch's band hashes can land in (≤ 16**_BAND_PFX_LEN
                # literals — a bounded metadata collect, not data)
                pfx = [
                    r.p
                    for r in bands_new.select(_band_pfx().alias("p"))
                    .distinct()
                    .collect()
                ]
                _pmark(f"graph b{batch_id}: sign + pfx collect")
                if deletes is None:
                    # insert-only batch: the merged-labels fence build just
                    # overlapped with the signature job above — join it here
                    post_labels = _labels_fut.result()
                    _pmark(f"graph b{batch_id}: merged-labels plan joined")
            finally:
                # also on a failing batch: the pool must not outlive it
                _labels_pool.shutdown(wait=False)
            prior_idx = read_band_index(
                spark,
                index_path,
                tomb_path,
                before_batch=batch_id,
                prefixes=pfx,
            )
            if deletes is not None:
                prior_idx = prior_idx.join(deletes, "doc_id", "left_anti")
            _pmark(f"graph b{batch_id}: band-index read built")
            # bands_new materialized (pfx collect) and the probe's file
            # listing done — overlap the index append with the CC path
            _idx_fut = _idx_pool.submit(_index_write)
            bn = bands_new.select(
                F.col("doc_id").alias("id_n"), "band_idx", "band_hash"
            )
            # CONTRACTION (r11, VERDICT r10 next #3): a probe hit's prior
            # endpoint is replaced by its component HUB (the component
            # min — always a real node) before CC runs, so the CC graph
            # holds only batch nodes + touched hubs + probed prior
            # singletons, never whole prior components. Prior members
            # are relabeled AFTER CC by one equi-join on their old
            # component id. Exactness: members of a prior component are
            # already known connected, so contracting them to their hub
            # preserves the component structure (the standard
            # contraction step of incremental CC); the r10 shape instead
            # injected star edges for every touched member, paying CC
            # rounds and shuffle volume proportional to member count.
            cand = pushdown_fence(
                bn.join(
                    cap_band_buckets(prior_idx).select(
                        F.col("doc_id").alias("id_p"), "band_idx", "band_hash"
                    ),
                    ["band_idx", "band_hash"],
                )
                .select("id_n", "id_p")
                .join(
                    post_labels.select(
                        F.col("node").alias("id_p"),
                        F.col("component").alias("p_comp"),
                    ),
                    "id_p",
                    "left",
                )
                .select(
                    "id_n",
                    "id_p",
                    # unlabeled prior docs are singletons: their hub is
                    # themselves
                    F.coalesce("p_comp", F.col("id_p")).alias("p_hub"),
                    "p_comp",
                )
            )
            probe_cross = cand.select(
                F.least("id_n", "p_hub").alias("id_a"),
                F.greatest("id_n", "p_hub").alias("id_b"),
            )
            bn2 = bn.select(
                F.col("id_n").alias("id_n2"), "band_idx", "band_hash"
            )
            probe_new = (
                cap_band_buckets(bn, id_col="id_n")
                .join(bn2, ["band_idx", "band_hash"])
                .where(F.col("id_n") < F.col("id_n2"))
                .select(
                    F.col("id_n").alias("id_a"), F.col("id_n2").alias("id_b")
                )
            )
            # the pre-CC distinct stays (r14: removing it was tried —
            # the min-label fixed point is multiplicity-insensitive —
            # but a probe hit repeats per shared band, so the edge
            # multiset grows ~bands×cap-fold and breaks the contraction
            # bound the skew tests pin; the distinct's one exchange is
            # what keeps CC's per-round input at the bound)
            edges = probe_cross.unionByName(probe_new).distinct()
            _pmark(f"graph b{batch_id}: probe built (lazy)")
            ins_cc = pushdown_fence(
                connected_components(edges).select("node", "component")
            )
            _pmark(f"graph b{batch_id}: insert CC")
            # expand the contraction: members of touched components take
            # their hub's new label (hubs themselves are in ins_cc)
            touched = (
                cand.where(F.col("p_comp").isNotNull())
                .select(F.col("p_comp").alias("component"))
                .distinct()
            )
            relabeled = (
                post_labels.join(touched, "component", "left_semi")
                .where(F.col("node") != F.col("component"))
                .join(
                    ins_cc.select(
                        F.col("node").alias("component"),
                        F.col("component").alias("__newc"),
                    ),
                    "component",
                )
                .select("node", F.col("__newc").alias("component"))
            )
            resolved = ins_cc.unionByName(relabeled)
            if recomputed_del is not None:
                resolved = pushdown_fence(resolved)
                resolved = resolved.unionByName(
                    recomputed_del.join(
                        resolved.select("node"), "node", "left_anti"
                    )
                )
                resolved = pushdown_fence(resolved)
                # members of deletion-affected components that ended up
                # with no label (deleted, or singleton-ized) get a
                # tombstone row so merge-on-read stops serving them
                nulls = (
                    members.select("node")
                    .join(resolved.select("node"), "node", "left_anti")
                    .withColumn(
                        "component",
                        F.lit(TOMBSTONE_COMPONENT).cast("long"),
                    )
                )
                resolved = resolved.unionByName(nulls)
            delta = resolved
        _write_fenced(
            delta.withColumn("__batch_id", F.lit(batch_id)),
            labels_path,
            "__batch_id",
            spread="node",
        )
        _pmark(f"graph b{batch_id}: label delta write")
        _idx_fut.result()
        _idx_pool.shutdown(wait=True)
        _pmark(f"graph b{batch_id}: index write joined")
        if deletes is not None:
            _write_fenced(
                deletes.withColumn("__batch_id", F.lit(batch_id)),
                tomb_path,
                "__batch_id",
                spread="doc_id",
            )
        # self-bounding retention: every `compact_every` batches, fold
        # the label delta history into one base partition and the
        # band-index + tombstone history into per-prefix base partitions
        # (tombstone suppression materialized at fold time) so every
        # merge-on-read scan — and the tombstone anti-join's right side
        # — stays O(compact_every) partitions on an unbounded stream.
        # Safe under replay: each fold preserves its store's served view
        # exactly, so a replayed batch reads the same prior state
        # whether or not the fold already happened.
        if compact_every and batch_id % compact_every == compact_every - 1:
            compact_labels(spark, labels_path, keep_last=1)
            _pmark(f"graph b{batch_id}: compact_labels")
            compact_index(spark, index_path, tomb_path, keep_last=1)
            _pmark(f"graph b{batch_id}: compact_index")

    return apply


def latest_labels(spark: SparkSession, labels_path: str) -> DataFrame:
    """The current component labels, served by MERGE-ON-READ over the
    label delta store: newest ``__batch_id`` row per node, tombstoned
    nodes dropped. Each delta holds only the nodes its batch touched,
    so the scan is Σ delta sizes — ``compact_labels`` folds history
    into one base partition to bound it."""
    return _merged_labels(spark, labels_path)


def compact_labels(
    spark: SparkSession, labels_path: str, keep_last: int = 1
) -> int:
    """Retention compaction for the label delta store: fold every delta
    partition except the newest ``keep_last`` into ONE base partition
    (the merge-on-read result materialized at the highest folded batch
    id). Returns the number of partitions folded away.

    ``latest_labels`` is IDENTICAL before and after (test-pinned): the
    base holds the latest row per node over the folded prefix —
    including tombstone rows, which must survive so a node deleted in
    the folded range stays dead.

    Atomicity (VERDICT r10 next #1): the compacted store — base
    partition PLUS the kept delta partitions — is built in a staged
    sibling directory and published with
    ``sinks.compaction.publish_dir_swap``, one atomic retarget of the
    store's symlink pointer (the store is born behind the pointer via
    ``ensure_linked_store`` in ``_write_fenced``). The r10 protocol
    instead overwrote the base partition in place and then rmtree'd the
    superseded partition dirs, so a crash between the two left
    permanent duplicate node-versions that relied on merge-on-read
    semantics forever; now a crash at ANY step leaves the previous
    store byte-identical (crash-at-every-step fault-injection tested)
    and at worst an unreferenced staged version dir, swept by the next
    publish. On an object store the pointer is a manifest — the
    VersionedTable pattern.
    """
    import shutil
    import tempfile

    from wikidatabots_spark.sinks.compaction import publish_dir_swap

    part_ids = sorted(
        int(d.split("=", 1)[1])
        for d in os.listdir(labels_path)
        if d.startswith("__batch_id=")
    )
    fold = part_ids[:-keep_last] if keep_last > 0 else part_ids
    if len(fold) <= 1:
        return 0
    base_id = fold[-1]
    all_labels = spark.read.parquet(resolve_store(labels_path))
    bid_type = all_labels.schema["__batch_id"].dataType
    base = (
        all_labels.where(F.col("__batch_id") <= F.lit(base_id))
        .groupBy("node")
        .agg(F.max(F.struct("__batch_id", "component")).alias("s"))
        .select("node", F.col("s.component").alias("component"))
        .withColumn("__batch_id", F.lit(base_id).cast(bid_type))
    )
    kept = all_labels.where(F.col("__batch_id") > F.lit(base_id)).select(
        "node", "component", "__batch_id"
    )
    tmp = tempfile.mkdtemp(
        prefix="labels_compact_",
        dir=os.path.dirname(os.path.abspath(labels_path)),
    )
    staged = os.path.join(tmp, "data")
    (
        base.unionByName(kept)
        .repartition(F.col("__batch_id"), F.col("node"))
        .write.mode("overwrite")
        .partitionBy("__batch_id")
        .parquet(staged)
    )
    publish_dir_swap(staged, labels_path)
    shutil.rmtree(tmp, ignore_errors=True)
    return len(fold) - 1


def run_staged_foreach_batch(
    batches: list[DataFrame],
    sink,
    root: str,
    timeout_s: float = 600.0,
) -> None:
    """Drive ``sink`` through a REAL ``readStream →
    writeStream.foreachBatch`` query (VERDICT r11 next #2): each input
    frame is staged as ONE parquet file in a drop-zone and
    ``maxFilesPerTrigger=1`` + ``Trigger.AvailableNow`` make the ENGINE
    deliver one file per micro-batch — batch ids, trigger boundaries,
    and checkpointing are the streaming engine's, not a Python loop's.
    This is the wiring the parity tests in tests/test_streaming.py
    drive; seated queries call it so the driver hash signal attaches to
    the real engine path.

    Determinism: the file source processes oldest-mtime-first with a
    path tiebreak, so each staged file gets an explicit, strictly
    increasing mtime AND a sequence-numbered name — batch i is
    DELIVERED as engine batch i. The seated dedup/ingest queries would
    hash identically under any assignment anyway (their sinks are
    batching-independent by theorem), but ordered delivery is a
    CONTRACT for callers staging deletion batches, where a tombstone
    must follow the insert it suppresses.
    """
    import shutil

    spark = batches[0].sparkSession
    stage = os.path.join(root, "stage")
    os.makedirs(stage, exist_ok=True)
    schema = batches[0].schema
    # Stage every batch in ONE partitioned write (r14 optimization): the
    # former per-batch coalesce(1) write ran |batches| sequential jobs,
    # each squeezing its batch's whole scan+filter through a single task
    # (measured ~2 s for the first staged batch at sf0.1). One job with a
    # repartition on the batch tag keeps the scan parallel, writes the
    # batches' files concurrently, and still lands EXACTLY one file per
    # batch (all rows of a tag hash to one reduce task; partitionBy
    # splits that task's output per directory). File contents are
    # row-order-free: every staged consumer is set-oriented and the
    # engine delivers whole files per trigger, so which scan task
    # produced a row never matters.
    tagged = None
    for i, b in enumerate(batches):
        t = b.withColumn("__stage_batch", F.lit(i))
        tagged = t if tagged is None else tagged.unionByName(t)
    tmp = os.path.join(root, "stage_tmp")
    (
        tagged.repartition(F.col("__stage_batch"))
        .write.mode("overwrite")
        .partitionBy("__stage_batch")
        .parquet(tmp)
    )
    for i in range(len(batches)):
        pdir = os.path.join(tmp, f"__stage_batch={i}")
        parts = (
            [f for f in os.listdir(pdir) if f.endswith(".parquet")]
            if os.path.isdir(pdir)
            else []
        )
        if len(parts) != 1:
            raise ValueError(
                f"staged batch {i} produced {len(parts)} files (empty "
                "input frame?) — one file per batch is the contract"
            )
        dst = os.path.join(stage, f"batch-{i:05d}.parquet")
        os.replace(os.path.join(pdir, parts[0]), dst)
        os.utime(dst, (1_000_000_000 + i, 1_000_000_000 + i))
    shutil.rmtree(tmp, ignore_errors=True)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
    )
    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", os.path.join(root, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    try:
        if not q.awaitTermination(timeout_s):
            raise TimeoutError(
                f"staged foreachBatch stream did not drain in {timeout_s}s"
            )
    finally:
        q.stop()
    if q.exception() is not None:
        raise q.exception()


def _store_batch_ids(path: str) -> list[int]:
    """Distinct ``__batch_id`` partition values anywhere in a (possibly
    nested-partitioned) store — the band index nests them under
    ``band_pfx=…`` directories, so a flat listdir is not enough."""
    ids: set[int] = set()
    for _root, dirs, _files in os.walk(path):
        for d in dirs:
            if d.startswith("__batch_id="):
                ids.add(int(d.split("=", 1)[1]))
    return sorted(ids)


def compact_index(
    spark: SparkSession,
    index_path: str,
    tombstones_path: str | None = None,
    keep_last: int = 1,
) -> int:
    """Retention compaction for the band-index AND tombstone stores —
    the last history-linear cost in the streaming dedup graph (VERDICT
    r11 next #1; ``compact_labels`` already bounds the label store).
    Without it the index accretes one ``__batch_id`` partition per
    batch forever, and the tombstone store — the anti-join's right
    side in every probe — grows with every deletion batch.

    The fold, per the ordered-tombstone semantics of
    :func:`read_band_index`:

    1. Index partitions with ``__batch_id <= base_id`` (every id except
       the newest ``keep_last``) are MATERIALIZED through the ordered
       tombstone anti-join — an index row at batch ``i`` is dropped iff
       a tombstone at batch ``t <= base_id`` with ``t > i`` names its
       doc — then re-stamped ``__batch_id = base_id`` and rewritten as
       one base partition per ``band_pfx`` (probe pruning still works:
       the prefix stays the partition key).
    2. Tombstones with ``__batch_id <= base_id`` are DROPPED: their
       suppression was just materialized, and they can never suppress a
       surviving row (every survivor now carries ``base_id >= t``, and
       suppression requires ``t > row batch``).

    Exactness across the fold boundary (probe-candidate-equality
    test-pinned, including the delete-then-re-insert case):

    - A KEPT tombstone (``t > base_id``) must still suppress folded
      rows it originally suppressed. It does: folded survivors carry
      ``base_id < t``, and their original batch ids were ``<= base_id
      < t`` — suppressed before, suppressed after.
    - A folded RE-INSERT (deleted at ``d``, re-inserted at ``r`` with
      ``d < r <= base_id``) survives the materialized anti-join
      (suppression needs ``t > r``; the delete has ``d < r``) while the
      pre-delete rows (batch ``< d``) are dropped — exactly the served
      view. Its rows re-stamped to ``base_id`` stay suppressible only
      by later tombstones (``t > base_id >= r``), as before.
    - Probe-time bucket caps are unchanged: ``cap_band_buckets`` ranks
      by doc_id only, never by batch id.

    The newest ``keep_last`` partitions stay un-folded for the replay
    fence: a replayed micro-batch's dynamic partition overwrite targets
    its own ``(band_pfx, __batch_id)`` partitions, which must not be
    the base. Both rewrites publish via ``publish_dir_swap`` (atomic
    pointer retarget, crash-at-every-step tested); the two publishes
    commute for the served view — a crash between them leaves
    already-materialized base rows plus not-yet-dropped old tombstones,
    which cannot double-suppress (``t <= base_id`` never exceeds the
    base rows' batch id). Returns the number of index partitions folded
    away.

    Scale: the fold reads the folded history once and writes it once —
    amortized O(1) per batch when wired via ``compact_every`` — and at
    corpus scale runs per ``band_pfx`` partition (compact only prefixes
    whose partition count crossed a threshold), the
    ``compact_parquet_dir`` discipline.
    """
    import shutil
    import tempfile

    from wikidatabots_spark.sinks.compaction import publish_dir_swap

    tomb_path = tombstones_path or index_path.rstrip("/") + "_tombstones"
    part_ids = _store_batch_ids(index_path)
    fold = part_ids[:-keep_last] if keep_last > 0 else part_ids
    if not fold:
        return 0
    base_id = fold[-1]
    have_tombs = _has_parquet(tomb_path)
    tomb_fold = (
        [t for t in _store_batch_ids(tomb_path) if t <= base_id]
        if have_tombs
        else []
    )
    if len(fold) <= 1 and not tomb_fold:
        return 0

    idx = spark.read.parquet(resolve_store(index_path))
    bid_t = idx.schema["__batch_id"].dataType
    folded = idx.where(F.col("__batch_id") <= F.lit(base_id))
    kept = idx.where(F.col("__batch_id") > F.lit(base_id)).select(
        "doc_id", "band_idx", "band_hash", "band_pfx", "__batch_id"
    )
    tomb = None
    if have_tombs:
        tomb = spark.read.parquet(resolve_store(tomb_path))
        tfold = tomb.where(F.col("__batch_id") <= F.lit(base_id)).select(
            F.col("doc_id").alias("__t_doc"),
            F.col("__batch_id").alias("__t_batch"),
        )
        folded = folded.join(
            tfold,
            (F.col("doc_id") == F.col("__t_doc"))
            & (F.col("__t_batch") > F.col("__batch_id")),
            "left_anti",
        )
    base = folded.select(
        "doc_id", "band_idx", "band_hash", "band_pfx"
    ).withColumn("__batch_id", F.lit(base_id).cast(bid_t))

    tmp = tempfile.mkdtemp(
        prefix="index_compact_",
        dir=os.path.dirname(os.path.abspath(index_path)),
    )
    staged = os.path.join(tmp, "data")
    (
        # repartition on the partition cols (+ band_hash for spread,
        # AQE-sized) so the fold writes one file per partition dir, not
        # one per task per dir (r13 small-files fix)
        base.unionByName(kept)
        .repartition(
            F.col("band_pfx"), F.col("__batch_id"), F.col("band_hash")
        )
        .write.mode("overwrite")
        .partitionBy("band_pfx", "__batch_id")
        .parquet(staged)
    )
    publish_dir_swap(staged, index_path)
    shutil.rmtree(tmp, ignore_errors=True)

    if tomb_fold:
        tbid_t = tomb.schema["__batch_id"].dataType
        tkept = tomb.where(F.col("__batch_id") > F.lit(base_id)).select(
            "doc_id", F.col("__batch_id").cast(tbid_t).alias("__batch_id")
        )
        ttmp = tempfile.mkdtemp(
            prefix="tomb_compact_",
            dir=os.path.dirname(os.path.abspath(tomb_path)),
        )
        tstaged = os.path.join(ttmp, "data")
        (
            tkept.repartition(F.col("__batch_id"), F.col("doc_id"))
            .write.mode("overwrite")
            .partitionBy("__batch_id")
            .parquet(tstaged)
        )
        publish_dir_swap(tstaged, tomb_path)
        shutil.rmtree(ttmp, ignore_errors=True)
    return len(fold) - 1
