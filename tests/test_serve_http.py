"""The HTTP serve tier (scripts/serve_http.py): crawl -> index -> page-rank
-> GET /search end-to-end, result cache included."""

from __future__ import annotations

import json
import sys
import threading
import urllib.request
from http.server import ThreadingHTTPServer
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "scripts"))

from sher_look_spark.crawler import synth
from sher_look_spark.crawler.engine import CrawlConfig, CrawlEngine
from sher_look_spark.crawler.storage import SnapshotStore
from sher_look_spark.operators.webindex import index_incremental, store_pagerank


def test_search_endpoint_end_to_end(spark, tmp_path, monkeypatch):
    from serve_http import make_handler

    web = synth.SynthWebConfig(n_hosts=4, pages_per_host=6, seed=33, timeout_pct=0)
    state = str(tmp_path / "serve")
    eng = CrawlEngine(spark, state, CrawlConfig(max_pages=500, max_depth=1, web=web))
    eng.run(synth.seed_urls(web, 3))
    store = SnapshotStore(state)
    assert index_incremental(spark, store)["indexed"] > 0
    meta = store_pagerank(spark, store)
    assert meta.filter(meta.page_rank.isNotNull()).count() > 0

    # the serve path must read the PREBUILT index — any call to the
    # on-the-fly indexer on the warm path is the round-2 anti-pattern
    import sher_look_spark.operators.webindex as wx

    def _no_reindex(pages):
        raise AssertionError("serve path re-indexed despite a prebuilt index")

    monkeypatch.setattr(wx, "index_pages", _no_reindex)

    server = ThreadingHTTPServer(("127.0.0.1", 0), make_handler(spark, state))
    port = server.server_address[1]
    t = threading.Thread(target=server.serve_forever, daemon=True)
    t.start()
    try:
        url = f"http://127.0.0.1:{port}/search?query=synthetic+page&page=1&resultsPerPage=5"
        body = json.loads(urllib.request.urlopen(url, timeout=120).read())
        assert body["page"] == 1
        assert 0 < len(body["results"]) <= 5
        first = body["results"][0]
        assert set(first) == {"url", "title", "score", "snippet"}
        assert first["url"].startswith("http://host")
        # second hit serves from the result cache (same payload, no recompute)
        body2 = json.loads(urllib.request.urlopen(url, timeout=30).read())
        assert body2 == body
        # non-search paths 404
        try:
            urllib.request.urlopen(f"http://127.0.0.1:{port}/nope", timeout=30)
            raise AssertionError("expected 404")
        except urllib.error.HTTPError as e:
            assert e.code == 404
        # malformed pagination params are a clean 400, not a dropped socket
        try:
            urllib.request.urlopen(
                f"http://127.0.0.1:{port}/search?query=x&page=abc", timeout=30
            )
            raise AssertionError("expected 400")
        except urllib.error.HTTPError as e:
            assert e.code == 400
    finally:
        server.shutdown()


def test_new_snapshot_invalidates_cached_answer(spark, tmp_path):
    """A cached answer must not outlive its snapshot: once more pages are
    crawled, indexed and page-ranked, the same GET answers what a direct
    search_pages call answers on the new snapshot."""
    from serve_http import make_handler

    from sher_look_spark.operators.webindex import search_pages

    web = synth.SynthWebConfig(n_hosts=3, pages_per_host=5, seed=33, timeout_pct=0)
    state = str(tmp_path / "serve-stale")
    store = SnapshotStore(state)

    def crawl_and_index(max_pages, seeds=None):
        CrawlEngine(
            spark, state, CrawlConfig(max_pages=max_pages, max_depth=1, web=web)
        ).run(seeds)
        assert index_incremental(spark, store)["indexed"] > 0
        store_pagerank(spark, store)

    def direct():
        rows = search_pages(spark, state, "synthetic page", 1, 5).collect()
        return [
            {"url": r.url, "title": r.title, "score": r.final_score, "snippet": r.snippet}
            for r in rows
        ]

    crawl_and_index(3, synth.seed_urls(web, 3))
    server = ThreadingHTTPServer(("127.0.0.1", 0), make_handler(spark, state))
    port = server.server_address[1]
    t = threading.Thread(target=server.serve_forever, daemon=True)
    t.start()
    url = f"http://127.0.0.1:{port}/search?query=synthetic+page&page=1&resultsPerPage=5"
    try:
        before = json.loads(urllib.request.urlopen(url, timeout=120).read())["results"]
        assert before == direct()
        crawl_and_index(500)
        want = direct()
        assert want != before, "the new snapshot must change this key's answer"
        after = json.loads(urllib.request.urlopen(url, timeout=120).read())["results"]
        assert after == want
    finally:
        server.shutdown()


def test_search_endpoint_empty_state_is_200_empty(spark, tmp_path):
    """No crawl state behind the server: GET /search answers 200 with an
    empty result list (VERDICT: was an AttributeError -> HTTP 500)."""
    from serve_http import make_handler

    server = ThreadingHTTPServer(
        ("127.0.0.1", 0), make_handler(spark, str(tmp_path / "empty-state"))
    )
    port = server.server_address[1]
    t = threading.Thread(target=server.serve_forever, daemon=True)
    t.start()
    try:
        body = json.loads(
            urllib.request.urlopen(
                f"http://127.0.0.1:{port}/search?query=anything", timeout=120
            ).read()
        )
        assert body["results"] == []
    finally:
        server.shutdown()
