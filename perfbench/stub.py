"""Local stand-in for the TMDB ``/{type}/{id}`` endpoint.

One thread, HTTP/1.0 (one request per connection), a fixed delay per
request. Whether an id resolves is a pure function of the id and the
workload seed (``resolves``), so the benchmark can compute the expected
answers without asking the stub. ``GET /stats`` returns how many lookups
were served so far.

Run: ``python3 perfbench/stub.py --seed 1 --miss-share 0.2 --latency-ms 2``;
the first line on stdout is the port it listens on (127.0.0.1).
"""

from __future__ import annotations

import argparse
import json
import sys
import time
from http.server import BaseHTTPRequestHandler, HTTPServer


def resolves(tmdb_id: int, seed: int, miss_share: float) -> bool:
    """True when the stub answers 200 for ``tmdb_id`` (else 404)."""
    return (tmdb_id * 40503 + seed * 7919) % 1000 >= round(miss_share * 1000)


def serve(seed: int, miss_share: float, latency_s: float) -> None:
    served = [0]

    class Handler(BaseHTTPRequestHandler):
        def do_GET(self) -> None:  # noqa: N802 - http.server API
            path = self.path.split("?", 1)[0].rstrip("/")
            if path == "/stats":
                self._reply(200, {"served": served[0]})
                return
            served[0] += 1
            time.sleep(latency_s)
            try:
                tmdb_id = int(path.rsplit("/", 1)[1])
            except ValueError:
                self._reply(400, {"error": "bad id"})
                return
            if resolves(tmdb_id, seed, miss_share):
                self._reply(200, {"id": tmdb_id})
            else:
                self._reply(404, {"status_code": 34})

        def _reply(self, status: int, body: dict) -> None:
            data = json.dumps(body).encode()
            self.send_response(status)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(data)))
            self.end_headers()
            self.wfile.write(data)

        def log_message(self, *_args) -> None:
            pass

    server = HTTPServer(("127.0.0.1", 0), Handler)
    print(server.server_address[1], flush=True)
    try:
        server.serve_forever()
    finally:
        server.server_close()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--miss-share", type=float, required=True)
    ap.add_argument("--latency-ms", type=float, required=True)
    a = ap.parse_args()
    try:
        serve(a.seed, a.miss_share, a.latency_ms / 1000.0)
    except KeyboardInterrupt:
        sys.exit(0)


if __name__ == "__main__":
    main()
