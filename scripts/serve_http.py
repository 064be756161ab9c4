#!/usr/bin/env python
"""The reference's `serve` run mode as a real HTTP surface.

Reference: web/SearchController.java:41-90 — GET /search with query, page and
resultsPerPage params returning ranked results with snippets; pagination
contract per README:77. Stdlib http.server wrapper over the engine's serve
tier (operators/webindex.search_pages): the SparkSession lives in the server
process; each request runs the ranking pipeline over the crawl state dir.

Run:
  spark-submit --py-files sher_look_spark.zip scripts/serve_http.py \
      --state /data/crawl-state --port 8080
  curl 'localhost:8080/search?query=spark+crawl&page=1&resultsPerPage=10'

This is a serving-demo tier, not the analytics path: a production deployment
would precompute the index tables once (index_incremental + store_pagerank)
and keep them cached — done here at startup. The reference's Caffeine result
cache (SearchController.java:28-33) maps to a plain dict, capped FIFO, keyed
(snapshot_id, query, page, per_page): a new index_incremental /
store_pagerank commit changes the latest snapshot id, so answers cached
against an older snapshot are never served again.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlsplit

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

CACHE_MAX = 3000  # SearchController.java:28-33 (Caffeine max size)


def make_handler(spark, state_dir: str):
    import threading

    from sher_look_spark.crawler.storage import SnapshotStore

    store = SnapshotStore(state_dir)
    cache: dict[tuple, list[dict]] = {}
    # ThreadingHTTPServer serves concurrent requests off this one dict —
    # guard get/put so eviction and insertion cannot race
    cache_lock = threading.Lock()

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
            # search_pages may read a snapshot newer than this id, never an
            # older one, so an entry is never staler than its key
            snap = store.latest()
            key = (snap.snapshot_id if snap else None, query, page, per_page)
            with cache_lock:
                hit = cache.get(key)
            if hit is None:
                from sher_look_spark.operators.webindex import search_pages

                rows = search_pages(spark, state_dir, query, page, per_page).collect()
                hit = [
                    {
                        "url": r.url,
                        "title": r.title,
                        "score": r.final_score,
                        "snippet": r.snippet,
                    }
                    for r in rows
                ]
                with cache_lock:
                    if len(cache) >= CACHE_MAX:
                        cache.pop(next(iter(cache)))
                    cache[key] = hit
            body = json.dumps(
                {"query": query, "page": page, "results": hit}
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
