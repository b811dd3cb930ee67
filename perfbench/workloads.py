"""The two workloads: inputs, one closed-loop iteration, and its check.

Each workload is a class with

- ``setup()``: what an iteration needs that does not change between
  iterations (the HTTP stub);
- ``iteration(rec)``: one pass from input to result through the
  engine's public functions, with spans around each layer call when
  ``rec`` is enabled. Returns what ``verify`` needs;
- ``probes(rec)``: traced iterations only — layer calls the workload
  makes inside library code, repeated on their own so each can be
  timed. Returns ``(operations attempted, operations failed)``;
- ``verify(out)``: outside the timed window, compares the result with
  the registry's DuckDB oracle over the same generated inputs and
  returns ``(operations attempted, operations failed)``;
- ``layer_metrics(rec, out)``: per-layer figures of one traced
  iteration.
"""

from __future__ import annotations

import contextlib
import io
import json
import math
import os
import re
import shutil
import statistics
import subprocess
import sys
import time
import urllib.request
import warnings
from collections import Counter
from concurrent.futures import ThreadPoolExecutor

import duckdb
from pyspark.sql import functions as F

from wikidatabots_spark import plans
from wikidatabots_spark.sources.tables import load_table

import stub

HERE = os.path.dirname(os.path.abspath(__file__))


def noop(df) -> None:
    """Materialise ``df`` without collecting it."""
    df.write.format("noop").mode("overwrite").save()


def canon(rows, cols) -> list[tuple]:
    """Order-free comparable form of a result (as scripts/check_oracle)."""
    def c(v):
        if isinstance(v, float) and math.isnan(v):
            return "NaN"
        return repr(v)

    cols = sorted(cols)
    return sorted(tuple(c(r[k]) for k in cols) for r in rows)


class Oracle:
    """DuckDB over the generated parquet files, one view per table."""

    def __init__(self, data_dir: str, tables: list[str]) -> None:
        self.con = duckdb.connect()
        for t in tables:
            path = os.path.join(data_dir, f"{t}.parquet")
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")

    def rows(self, sql: str) -> tuple[list[dict], list[str]]:
        tbl = self.con.execute(sql).fetch_arrow_table()
        return tbl.to_pylist(), tbl.column_names

    def close(self) -> None:
        self.con.close()


def tail(xs: list[float]) -> float:
    """The highest nearest-rank percentile with at least ten samples
    beyond it; the median when fewer than twenty samples leave no such
    percentile above it."""
    if len(xs) < 20:
        return statistics.median(xs)
    return sorted(xs)[len(xs) - 11]


# ---------------------------------------------------------------------------
# reconcile
# ---------------------------------------------------------------------------

_TMDB_STMT = re.compile(r'wdt:P4947 "(\d+)"')
_GUARD = re.compile(r"has (\d+) rows")


class Reconcile:
    """Both reference mains through the guarded RDF sink; the TMDB
    via-IMDb leg verifies a seeded sample of its ids against the stub
    and drops the sampled statements whose id the stub does not know."""

    tables = ["orders", "lineitem", "customer", "supplier", "part"]

    def __init__(self, spark, data_dir: str, params: dict, seed: int, work: str):
        self.spark, self.dir, self.p, self.seed = spark, data_dir, params, seed
        self.proc = None
        self.expected: dict | None = None

    def setup(self, procs) -> None:
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "stub.py"),
             "--seed", str(self.seed),
             "--miss-share", str(self.p["miss_share"]),
             "--latency-ms", str(self.p["latency_ms"])],
            stdout=subprocess.PIPE, text=True,
        )
        procs.exclude(self.proc.pid)
        self.base = f"http://127.0.0.1:{self.proc.stdout.readline().strip()}"

    def close(self) -> None:
        if self.proc is not None:
            self.proc.terminate()
            self.proc.wait(timeout=10)
            self.proc.stdout.close()

    def served(self) -> int:
        with urllib.request.urlopen(self.base + "/stats", timeout=10) as r:
            return int(json.load(r)["served"])

    def _sampled(self, tmdb_id):
        """The seeded sample rule, for an int or a Column alike."""
        k = round(self.p["verify_share"] * 1000)
        return (tmdb_id * 2654435761 + self.seed) % 1000 < k

    def _via_imdb(self):
        """The via-IMDb leg with its candidate ``tmdb_id`` column."""
        imdb = plans.REGISTRY["tmdb_via_imdb"].fn(self.spark, self.dir)
        return imdb.withColumn(
            "tmdb_id",
            F.regexp_extract("rdf_statement", _TMDB_STMT.pattern, 1).cast("long"),
        )

    def _checked(self, imdb):
        """The leg's sampled ids with an ``exists`` column."""
        from wikidatabots_spark.sources.tmdb_api import tmdb_exists

        cand = imdb.where(self._sampled(F.col("tmdb_id")))
        return tmdb_exists(cand, "tmdb_id", "movie", base_url=self.base + "/3")

    def _sink(self, rec, frame) -> tuple[list[str], int]:
        from wikidatabots_spark.sinks.rdf import print_rdf_statements

        buf = io.StringIO()
        with warnings.catch_warnings(record=True) as caught:
            warnings.simplefilter("always")
            with rec.span("sinks.rdf"):
                n = print_rdf_statements(frame, limit=self.p["rdf_limit"], file=buf)
        lines = buf.getvalue().splitlines()
        guard = [int(m.group(1)) for w in caught
                 if (m := _GUARD.search(str(w.message)))]
        return lines, guard[0] if guard else n

    def probes(self, rec) -> tuple[int, int]:
        for t in self.tables:
            with rec.span("sources.scan"):
                noop(load_table(self.spark, self.dir, t))
        with rec.span("sources.http.lookup"):
            noop(self._checked(self._via_imdb()))
        return 0, 0

    def iteration(self, rec):
        from wikidatabots_spark.plans.mains import opencritic_main_frame

        with rec.span("plans.build"):
            imdb = self._via_imdb()
            # every via-IMDb statement is printed; the sampled ones only
            # if the stub says the id exists
            tmdb = imdb.where(~self._sampled(F.col("tmdb_id"))).select(
                "rdf_statement"
            ).unionByName(
                self._checked(imdb).where("exists").select("rdf_statement")
            )
            for name in ("tmdb_via_tvdb", "tmdb_not_found"):
                tmdb = tmdb.unionByName(plans.REGISTRY[name].fn(self.spark, self.dir))
        before = self.served()
        tmdb_out = self._sink(rec, tmdb)
        served = self.served() - before
        with rec.span("plans.build"):
            oc = opencritic_main_frame(self.spark, self.dir)
        oc_out = self._sink(rec, oc)
        return {"tmdb": tmdb_out, "oc": oc_out, "served": served}

    def _expect(self) -> dict:
        if self.expected is None:
            o = Oracle(self.dir, self.tables)
            rows = lambda n: [r["rdf_statement"] for r in o.rows(plans.REGISTRY[n].oracle)[0]]
            tmdb_id = lambda s: int(_TMDB_STMT.search(s).group(1))
            imdb = rows("tmdb_via_imdb")
            cands = [s for s in imdb if self._sampled(tmdb_id(s))]
            ok = [
                s for s in imdb
                if not self._sampled(tmdb_id(s))
                or stub.resolves(tmdb_id(s), self.seed, self.p["miss_share"])
            ]
            self.expected = {
                "tmdb": Counter(ok + rows("tmdb_via_tvdb") + rows("tmdb_not_found")),
                "oc": Counter(rows("opencritic_main")),
                "candidates": len(cands),
            }
            o.close()
        return self.expected

    def verify(self, out) -> tuple[int, int]:
        exp = self._expect()
        failed = 0
        for key in ("tmdb", "oc"):
            lines, guard = out[key]
            want = exp[key]
            total = sum(want.values())
            if (
                Counter(lines) - want
                or guard != total
                or len(lines) != min(total, self.p["rdf_limit"])
            ):
                failed = 1
        # HTTP lookups: the stub must have been asked about every
        # sampled candidate (the guard count above pins which answered)
        lookups = exp["candidates"]
        failed_lookups = 0 if out["served"] >= lookups else lookups - out["served"]
        return 1 + lookups, failed + failed_lookups

    def layer_metrics(self, rec, out) -> dict:
        exp = self._expect()
        return {
            "sources.http.requests_per_row": out["served"] / max(exp["candidates"], 1),
            "sinks.rdf_s": rec.total("sinks.rdf"),
            "sinks.rdf_jobs": rec.jobs("sinks.rdf"),
        }


# ---------------------------------------------------------------------------
# curate
# ---------------------------------------------------------------------------


class Curate:
    """Batch near-duplicate detection: two registry entries per
    iteration. ``curate_corpus_v6`` is left out: at about 9 s warm and
    30 s cold per run on a 4-core, 16 GB VM, it does not fit the
    benchmark's total run-time budget.

    Traced iterations also drive the corpus through the streaming
    ingest path (``StreamProbe``), which is how the ``streaming`` layer
    and the state-store ``sinks`` are measured."""

    tables = ["documents"]
    queries = ("dedup_minhash_lsh", "dedup_ngram_jaccard")

    def __init__(self, spark, data_dir: str, params: dict, seed: int, work: str):
        self.spark, self.dir, self.p = spark, data_dir, params
        self.expected: dict | None = None
        self.stream = StreamProbe(spark, data_dir, params, work)
        self.stream_out: dict | None = None

    def setup(self, procs) -> None:
        pass

    def close(self) -> None:
        pass

    def probes(self, rec) -> tuple[int, int]:
        from wikidatabots_spark.operators.dedup import (
            connected_components,
            minhash_lsh_pairs,
            minhash_signature_cols,
            ngram_jaccard_pairs,
        )
        from wikidatabots_spark.operators.textstats import (
            gate_feature_counts,
            gate_features_from_counts,
        )

        for t in self.tables:
            with rec.span("sources.scan"):
                noop(load_table(self.spark, self.dir, t))
        d = load_table(self.spark, self.dir, "documents")
        with rec.span("operators.minhash"):
            noop(minhash_signature_cols(d, num_hashes=8))
        with rec.span("operators.lsh_pairs"):
            pairs = minhash_lsh_pairs(d, num_hashes=8, bands=4).localCheckpoint(
                eager=True
            )
        with rec.span("operators.ngram_pairs"):
            noop(ngram_jaccard_pairs(d, threshold=0.4, max_df=0.2))
        with rec.span("operators.components"):
            noop(connected_components(pairs))
        with rec.span("operators.quality"):
            noop(gate_features_from_counts(gate_feature_counts(d)))
        self.stream_out = self.stream.run(rec)
        return self.stream.verify(self.stream_out)

    def iteration(self, rec):
        out = {}
        for q in self.queries:
            with rec.span("plans.build"):
                df = plans.REGISTRY[q].fn(self.spark, self.dir)
            with rec.span("plans.collect"):
                out[q] = (df.collect(), df.columns)
        return out

    def _expect(self) -> dict:
        if self.expected is None:
            o = Oracle(self.dir, self.tables)
            self.expected = {
                q: canon(*o.rows(plans.REGISTRY[q].oracle)) for q in self.queries
            }
            o.close()
        return self.expected

    def verify(self, out) -> tuple[int, int]:
        exp = self._expect()
        bad = any(canon(*out[q]) != exp[q] for q in self.queries)
        return 1, int(bad)

    def layer_metrics(self, rec, out) -> dict:
        return self.stream.layer_metrics(rec, self.stream_out)


# ---------------------------------------------------------------------------
# streaming ingest probe
# ---------------------------------------------------------------------------


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            fp = os.path.join(root, f)
            if not os.path.islink(fp):
                total += os.path.getsize(fp)
    return total


_COMPACTIONS = (
    "compact_labels", "compact_index", "compact_flagged", "compact_dsir_partials",
)


@contextlib.contextmanager
def _compaction_spans(rec, parent):
    """Time the stores' retention folds as ``sinks.compact`` spans. The
    sinks call these module functions themselves, some on a pool
    thread, so for the duration they are replaced with timed wrappers;
    ``parent()`` gives the span the folds belong to."""
    from wikidatabots_spark.streaming import docs_stream

    saved = {n: getattr(docs_stream, n) for n in _COMPACTIONS}

    def timed(fn):
        def call(*args, **kwargs):
            with rec.span("sinks.compact", parent=parent()):
                return fn(*args, **kwargs)
        return call

    if rec.enabled:
        for n, fn in saved.items():
            setattr(docs_stream, n, timed(fn))
    try:
        yield
    finally:
        for n, fn in saved.items():
            setattr(docs_stream, n, fn)


class StreamProbe:
    """Seeded micro-batches with later deletes through a real
    ``readStream → foreachBatch`` query, with a serving read of the
    labels after every batch. The composed sink is the one the
    registry's ``ingest_pipeline_stream`` query drives: the
    decontamination gate hands back its verdicts and appends them on a
    one-thread pool, the admitted documents feed the dedup-graph store
    while the DSIR model store runs beside it on a second pool, and
    every store folds itself every ``compact_every`` batches. Unlike
    that query, the batches also carry ``__op="delete"`` rows, which go
    to the graph store only.

    Documents with ``doc_id % 7 == 0`` are the decontamination
    benchmark set, the convention of the registry's
    ``ingest_pipeline_stream`` oracle, whose ``flagged`` leg is reused.
    """

    tables = ["documents", "ingest_ops"]

    def __init__(self, spark, data_dir: str, params: dict, work: str):
        self.spark, self.dir, self.p = spark, data_dir, params
        self.work = work
        self.expected: dict | None = None
        self.runs = 0

    def _batches(self):
        docs = load_table(self.spark, self.dir, "documents").select(
            "doc_id", "source", "text"
        )
        ops = load_table(self.spark, self.dir, "ingest_ops")
        tagged = docs.where(F.col("doc_id") % 7 != 0).join(ops, "doc_id").select(
            "doc_id", "source", "text", F.col("op").alias("__op"), "batch"
        )
        bench = docs.where(F.col("doc_id") % 7 == 0)
        frames = [
            tagged.where(F.col("batch") == b).drop("batch")
            for b in range(self.p["batches"])
        ]
        return bench, frames

    def run(self, rec):
        from wikidatabots_spark.functions.scale import pushdown_fence
        from wikidatabots_spark.sinks.compaction import resolve_store
        from wikidatabots_spark.streaming.docs_stream import (
            decontamination_gate,
            dedup_graph_maintenance,
            dsir_model_maintenance,
            flagged_documents,
            latest_labels,
            run_staged_foreach_batch,
        )

        spark = self.spark
        self.runs += 1
        root = os.path.join(self.work, f"stream-{self.runs}")
        paths = {k: os.path.join(root, k) for k in ("flagged", "idx", "lbl", "dsir")}
        every = self.p["compact_every"]
        gate_pool = ThreadPoolExecutor(max_workers=1)
        with rec.span("streaming.build"):
            bench, frames = self._batches()
            gate = decontamination_gate(
                bench, paths["flagged"], n=5, compact_every=every, pool=gate_pool
            )
            graph = dedup_graph_maintenance(
                paths["idx"], paths["lbl"], compact_every=every
            )
            dsir = dsir_model_maintenance(paths["dsir"], compact_every=every)
        batch_s, read_s, callback_s, reads, amp = [], [], [], [], []
        # the open ``streaming.batch`` span: parent of the spans that
        # open on the pools' threads
        current: list = [None]

        def dsir_timed(frame, batch_id: int) -> None:
            with rec.span("streaming.dsir", parent=current[0]):
                dsir(frame, batch_id)

        def sink(batch, batch_id: int) -> None:
            batch_id = int(batch_id)
            t0 = time.perf_counter()
            with rec.span("streaming.batch", parent=run_span) as sp:
                current[0] = sp
                b = pushdown_fence(batch)
                inserts = b.where(F.col("__op") == "insert").drop("__op")
                with rec.span("streaming.gate"):
                    flags, gate_fut = gate(inserts, batch_id)
                admitted = inserts.join(
                    flags.select(F.col("train_id").alias("doc_id")), "doc_id",
                    "left_anti",
                ).localCheckpoint(eager=True)
                with ThreadPoolExecutor(max_workers=1) as pool:
                    dsir_fut = pool.submit(dsir_timed, admitted, batch_id)
                    with rec.span("streaming.graph"):
                        deletes = b.where(F.col("__op") == "delete")
                        graph(
                            admitted.select("doc_id", "text", F.lit("insert").alias("__op"))
                            .unionByName(deletes.select("doc_id", "text", "__op")),
                            batch_id,
                        )
                    dsir_fut.result()
                gate_fut.result()
            t1 = time.perf_counter()
            with rec.span("sinks.read", parent=run_span):
                labels = latest_labels(spark, paths["lbl"]).collect()
            t2 = time.perf_counter()
            batch_s.append(t1 - t0)
            read_s.append(t2 - t1)
            reads.append([(r.node, r.component) for r in labels])
            if rec.enabled:
                stored = (
                    spark.read.parquet(resolve_store(paths["lbl"])).count()
                    if _dir_bytes(paths["lbl"]) and labels else 0
                )
                amp.append(stored / max(len(labels), 1))
            # the whole callback, the amplification read included: the
            # driver gap is the stream's time outside it
            callback_s.append(time.perf_counter() - t0)

        try:
            with _compaction_spans(rec, lambda: current[0]):
                with rec.span("streaming.run") as run_span:
                    run_staged_foreach_batch(frames, sink, root)
        finally:
            gate_pool.shutdown(wait=True)
        flagged = [r.train_id for r in flagged_documents(spark, paths["flagged"]).collect()]
        state = _dir_bytes(root)
        shutil.rmtree(root, ignore_errors=True)
        return {
            "batch_s": batch_s, "read_s": read_s, "callback_s": callback_s,
            "reads": reads, "flagged": flagged, "state_bytes": state, "amp": amp,
        }

    def _expect(self) -> dict:
        """Flagged ids, then the component labels after each batch: the
        dedup_graph_stream oracle over the documents that survive."""
        if self.expected is not None:
            return self.expected
        o = Oracle(self.dir, self.tables)
        flag_sql = plans.REGISTRY["ingest_pipeline_stream"].oracle
        flagged = sorted(
            r["doc_id"] for r in o.rows(flag_sql)[0] if r["leg"] == "flagged"
        )
        cc_sql = plans.REGISTRY["dedup_graph_stream"].oracle
        labels = []
        for b in range(self.p["batches"]):
            # documents alive after batch b: inserted at or before b, not
            # deleted at or before b, not flagged by the gate
            o.con.execute(f"""
                CREATE OR REPLACE TEMP VIEW alive AS
                SELECT * FROM documents
                WHERE doc_id % 7 <> 0
                  AND doc_id IN (SELECT doc_id FROM ingest_ops
                                 WHERE op = 'insert' AND batch <= {b})
                  AND doc_id NOT IN (SELECT doc_id FROM ingest_ops
                                     WHERE op = 'delete' AND batch <= {b})
                  AND doc_id NOT IN ({','.join(map(str, flagged)) or 'NULL'})
            """)
            rows, _ = o.rows(cc_sql.replace("FROM documents", "FROM alive"))
            labels.append(sorted((r["node"], r["component"]) for r in rows))
        o.close()
        self.expected = {"flagged": flagged, "labels": labels}
        return self.expected

    def verify(self, out) -> tuple[int, int]:
        exp = self._expect()
        n = self.p["batches"]
        failed = int(sorted(out["flagged"]) != exp["flagged"])
        failed += n - len(out["batch_s"])
        for got, want in zip(out["reads"], exp["labels"]):
            failed += int(sorted(got) != want)
        failed += n - len(out["reads"])
        return 1 + 2 * n, failed

    def layer_metrics(self, rec, out) -> dict:
        run = rec.total("streaming.run")
        batches = rec.of("streaming.batch")
        return {
            "streaming.batch_jobs": statistics.median([len(s.jobs) for s in batches]),
            "streaming.batch_tasks": statistics.median([s.tasks for s in batches]),
            "streaming.driver_gap_s": run - sum(out["callback_s"]),
            "streaming.gate_s": statistics.median([s.seconds for s in rec.of("streaming.gate")]),
            "streaming.graph_s": statistics.median([s.seconds for s in rec.of("streaming.graph")]),
            "streaming.dsir_s": statistics.median([s.seconds for s in rec.of("streaming.dsir")]),
            "sinks.compact_s": rec.total("sinks.compact"),
            "sinks.label_rows_per_node": statistics.median(out["amp"]),
            "sinks.read_p50_s": statistics.median(out["read_s"]),
            "sinks.state_mb": out["state_bytes"] / 2**20,
            "streaming.batch_p50_s": statistics.median(out["batch_s"]),
            "streaming.batch_tail_s": tail(out["batch_s"]),
        }


WORKLOADS = {"reconcile": Reconcile, "curate": Curate}
