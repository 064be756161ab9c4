#!/usr/bin/env python
"""The reference's `serve` run mode as a real HTTP surface.

Reference: web/SearchController.java:41-90 — GET /search with query, page and
resultsPerPage params returning ranked results with snippets; pagination
contract per README:77. Stdlib http.server wrapper over the engine's serve
tier.

Run:
  spark-submit --py-files sher_look_spark.zip scripts/serve_http.py \
      --state /data/crawl-state --port 8080
  curl 'localhost:8080/search?query=spark+crawl&page=1&resultsPerPage=10'

Requests run no Spark plan. The server holds one immutable resident index
(operators/resident.py: the latest snapshot's postings, documents_meta,
page_rank and idf as numpy arrays) and answers from it exactly what
operators/webindex.search_pages answers. The index is built in make_handler
and rebuilt, under a lock, when a request sees a newer latest snapshot id
(a new index_incremental / store_pagerank commit), so an answer is never
staler than the snapshot the request saw. With answers this cheap there is
no result cache. No request runs Spark: a snapshot that is not indexed yet
(or no state at all) answers an empty page, as search_pages does. The
``spark`` argument of make_handler is kept for callers and not used.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlsplit

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def make_handler(spark, state_dir: str):
    from sher_look_spark.crawler.storage import SnapshotStore
    from sher_look_spark.operators.resident import ResidentIndex

    store = SnapshotStore(state_dir)
    snap = store.latest()
    # (snapshot id, its resident index or None); replaced whole, never mutated
    served = (snap.snapshot_id if snap else None, ResidentIndex.load(state_dir, snap))
    swap_lock = threading.Lock()

    def answer(query: str, page: int, per_page: int) -> list[dict]:
        nonlocal served
        snap = store.latest()
        if snap is None:
            return []
        with swap_lock:
            # only forward: a newer index is no staler than the request's
            # snapshot, and swapping back would reload on every other request
            if served[0] is None or served[0] < snap.snapshot_id:
                served = (snap.snapshot_id, ResidentIndex.load(state_dir, snap))
            index = served[1]
        if index is None:
            return []
        return [
            {"url": url, "title": title, "score": score, "snippet": snippet}
            for url, title, score, snippet in index.search(query, page, per_page)
        ]

    class Handler(BaseHTTPRequestHandler):
        def do_GET(self):  # noqa: N802 (http.server API)
            parts = urlsplit(self.path)
            if parts.path != "/search":
                self.send_error(404, "only /search is served")
                return
            qs = parse_qs(parts.query)
            query = (qs.get("query") or [""])[0]
            try:
                page = int((qs.get("page") or ["1"])[0])
                per_page = int((qs.get("resultsPerPage") or ["10"])[0])
                if page < 1 or per_page < 1:
                    raise ValueError
            except ValueError:
                self.send_error(400, "page and resultsPerPage must be positive integers")
                return
            body = json.dumps(
                {"query": query, "page": page, "results": answer(query, page, per_page)}
            ).encode()
            self.send_response(200)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def log_message(self, fmt, *args):  # quiet
            pass

    return Handler


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--state", required=True)
    ap.add_argument("--port", type=int, default=8080)
    ap.add_argument("--master", default=None)
    args = ap.parse_args()

    from sher_look_spark.session import get_spark

    spark = get_spark("sher-look-serve", master=args.master)
    server = ThreadingHTTPServer(("0.0.0.0", args.port), make_handler(spark, args.state))
    print(json.dumps({"serving": args.port, "state": args.state}))
    server.serve_forever()


if __name__ == "__main__":
    main()
