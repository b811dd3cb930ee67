"""TMDB API helper tests against a local fixture server with the pinned
answers from FIXTURES.md §5 — no live network."""

from __future__ import annotations

import io
import json
import threading
import warnings
from http.server import BaseHTTPRequestHandler, HTTPServer
from urllib.parse import urlparse

import pytest
from pyspark.sql import functions as F

from wikidatabots_spark.functions.core import apply_elementwise
from wikidatabots_spark.sinks.rdf import print_rdf_statements
from wikidatabots_spark.sources.tmdb_api import tmdb_exists, tmdb_find

# FIXTURES.md §5 pinned answers
FIND = {"tt1630029": {"movie": 76600}, "tt14269590": {"tv": 120998},
        "nm3718007": {"person": 1674162}}
EXISTS = {("movie", 2), ("movie", 3), ("collection", 87255)}


class _Handler(BaseHTTPRequestHandler):
    served = 0  # requests answered; the server handles one at a time

    def log_message(self, *a):
        pass

    def do_GET(self):
        _Handler.served += 1
        url = urlparse(self.path)
        parts = url.path.strip("/").split("/")
        if parts[0] == "find":
            ext = parts[1]
            body = {f"{mt}_results": [] for mt in ("movie", "tv", "person")}
            for mt, tid in FIND.get(ext, {}).items():
                body[f"{mt}_results"] = [{"id": tid}]
            self.send_response(200)
            self.end_headers()
            self.wfile.write(json.dumps(body).encode())
        else:
            mt, tid = parts[0], int(parts[1])
            if (mt, tid) in EXISTS:
                self.send_response(200)
                self.end_headers()
                self.wfile.write(json.dumps({"id": tid}).encode())
            else:
                self.send_response(404)
                self.end_headers()
                self.wfile.write(b"{}")


@pytest.fixture(scope="module")
def tmdb_server():
    srv = HTTPServer(("127.0.0.1", 0), _Handler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    yield f"http://127.0.0.1:{srv.server_port}"
    srv.shutdown()


def test_tmdb_find_pinned_answers(spark, tmdb_server):
    df = spark.createDataFrame(
        [("tt1630029",), ("tt14269590",), ("nm3718007",)], "ext string"
    )
    # movie lookup: only the movie id resolves (test_wd_tmdb.py:56-86 shape)
    out = {
        r.ext: r.tmdb_id
        for r in tmdb_find(df, "ext", "movie", base_url=tmdb_server).collect()
    }
    assert out == {"tt1630029": 76600, "tt14269590": None, "nm3718007": None}
    out_tv = {
        r.ext: r.tmdb_id
        for r in tmdb_find(df, "ext", "tv", base_url=tmdb_server).collect()
    }
    assert out_tv == {"tt1630029": None, "tt14269590": 120998, "nm3718007": None}


def test_tmdb_exists_pinned_answers(spark, tmdb_server):
    ids = spark.createDataFrame([(0,), (2,), (3,), (4,), (3106,)], "id long")
    out = {
        r.id: r.exists
        for r in tmdb_exists(ids, "id", "movie", base_url=tmdb_server).collect()
    }
    # FIXTURES.md §5: [0,2,3,4,3106] → [false,true,true,false,false]
    assert out == {0: False, 2: True, 3: True, 4: False, 3106: False}


@pytest.mark.parametrize("limit", [250, 5])
def test_rdf_sink_evaluates_its_frame_once(spark, tmdb_server, limit):
    """The guard's count and the printed rows come from one evaluation:
    one HTTP request per input row, under the cap and over it."""
    ids = list(range(20))
    checked = tmdb_exists(
        spark.createDataFrame([(i,) for i in ids], "id long"),
        "id", "movie", base_url=tmdb_server,
    )
    # filtered on the looked-up column, as the mains filter on it, so a
    # count cannot prune the lookups away; every lookup here answers
    frame = checked.where(F.col("exists").isNotNull()).select(
        F.format_string('wd:Q%d wdt:P4947 "%s" .', "id", F.col("exists").cast("string"))
        .alias("rdf_statement")
    )
    rows = {f'wd:Q{i} wdt:P4947 "{str(("movie", i) in EXISTS).lower()}" .' for i in ids}
    buf = io.StringIO()
    before = _Handler.served
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        n = print_rdf_statements(frame, limit=limit, file=buf, seed=1)
    assert _Handler.served - before == len(ids)
    lines = buf.getvalue().splitlines()
    assert n == len(lines) == min(limit, len(ids))
    assert len(set(lines)) == n and set(lines) <= rows
    warned = [str(x.message) for x in w if "rows, limiting" in str(x.message)]
    if limit < len(ids):
        assert warned == [f"rdf statements has {len(ids)} rows, limiting to {limit}"]
    else:
        assert not warned and set(lines) == rows


def test_apply_elementwise_none_passthrough(spark):
    up = apply_elementwise(str.upper, "string")
    df = spark.createDataFrame([("a",), (None,)], "s string")
    got = sorted(
        (r.u for r in df.select(up(F.col("s")).alias("u")).collect()),
        key=lambda x: (x is None, x),
    )
    assert got == ["A", None]
