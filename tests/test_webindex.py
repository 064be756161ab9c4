"""HTML extraction goldens + end-to-end crawl -> index -> search pipeline."""

from __future__ import annotations

import pytest

from sher_look_spark.functions.htmlparse import extract_fields


def test_extract_title_and_description():
    html = (
        "<html><head><title>My Page</title>"
        '<meta name="description" content="a meta description"></head>'
        "<body><h1>Header One</h1><p>body text here</p></body></html>"
    )
    title, desc, sections = extract_fields(html)
    assert title == "My Page"
    assert desc == "a meta description"
    assert sections[0] == ("title", "My Page")
    assert ("header", "Header One") in sections
    assert ("body", "body text here") in sections


def test_title_falls_back_to_first_header():
    title, desc, _ = extract_fields("<html><body><h2>Fallback Title</h2></body></html>")
    assert title == "Fallback Title"


def test_description_falls_back_to_first_p():
    _, desc, _ = extract_fields("<html><body><p>first paragraph</p></body></html>")
    assert desc == "first paragraph"


def test_script_style_skipped_and_own_text_gate():
    html = (
        "<html><body><script>var x = 'nope';</script><style>.a{}</style>"
        "<div><span>inner</span></div></body></html>"
    )
    _, _, sections = extract_fields(html)
    texts = [t for _, t in sections]
    assert "nope" not in " ".join(texts)
    # div has no own text -> skipped; span contributes
    assert ("body", "inner") in sections
    assert all("var x" not in t for t in texts)


def test_crawl_index_search_end_to_end(spark, tmp_path):
    from sher_look_spark.crawler import synth
    from sher_look_spark.crawler.engine import CrawlConfig, CrawlEngine
    from sher_look_spark.crawler.storage import SnapshotStore
    from sher_look_spark.operators.webindex import (
        index_incremental,
        search_pages,
        store_pagerank,
    )

    web = synth.SynthWebConfig(n_hosts=5, pages_per_host=8, seed=77, timeout_pct=0)
    state = str(tmp_path / "e2e")
    eng = CrawlEngine(spark, state, CrawlConfig(max_pages=40, max_depth=2, web=web))
    eng.run(synth.seed_urls(web, 4))

    store = SnapshotStore(state)
    pages = store.read(spark, "pages")
    assert pages is not None and pages.count() > 0

    assert index_incremental(spark, store)["indexed"] == pages.count()
    meta = store.read(spark, "documents_meta").collect()
    assert all(r.title.startswith("Synthetic page") for r in meta)
    # positions: title tokens come first for every doc
    first_tok = (
        store.read(spark, "postings").filter("position = 0").select("section").distinct().collect()
    )
    assert [r.section for r in first_tok] == ["title"]

    pr = [r.page_rank for r in store_pagerank(spark, store).collect()]
    assert len(pr) == len(meta)
    assert pytest.approx(sum(pr), abs=0.05) == 1.0

    # search for a vocabulary word known to exist in the synthetic corpus
    res = search_pages(spark, state, "frontier crawl", per_page=5).collect()
    assert 0 < len(res) <= 5
    assert all(r.final_score > 0 for r in res)
    assert any(r.snippet and "<b>" in r.snippet for r in res)

    # phrase mode end-to-end
    res2 = search_pages(spark, state, '"synthetic page"', per_page=5).collect()
    assert len(res2) > 0


def test_index_incremental_releases_its_caches(spark, tmp_path):
    """An index run in a long-lived process leaves no persisted frame
    behind, however many runs it makes."""
    from sher_look_spark.crawler import synth
    from sher_look_spark.crawler.engine import CrawlConfig, CrawlEngine
    from sher_look_spark.crawler.storage import SnapshotStore
    from sher_look_spark.operators.webindex import index_incremental

    web = synth.SynthWebConfig(n_hosts=2, pages_per_host=4, seed=5, timeout_pct=0)
    state = str(tmp_path / "leak")
    CrawlEngine(spark, state, CrawlConfig(max_pages=6, max_depth=1, web=web)).run(
        synth.seed_urls(web, 2)
    )

    def persisted() -> set[int]:
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())

    before = persisted()
    assert index_incremental(spark, SnapshotStore(state))["indexed"] > 0
    assert persisted() - before == set()


def test_search_pages_empty_state_dir_returns_empty(spark, tmp_path):
    """VERDICT 'what's wrong' #1: serving against a state dir with no crawl
    state must yield an empty result page, not an AttributeError on None."""
    from sher_look_spark.operators.webindex import search_pages

    out = search_pages(spark, str(tmp_path / "nothing"), "anything at all")
    assert out.columns == ["url", "title", "final_score", "snippet"]
    assert out.count() == 0
