#!/usr/bin/env python
"""Cluster entry point — the `crawl` / `index` / `page-rank` / `serve` run
modes of the reference (Application.java:15-48) as one spark-submit script.

Usage (cluster):
  zip -r sher_look_spark.zip sher_look_spark
  spark-submit --py-files sher_look_spark.zip scripts/run_crawl.py \
      crawl --state /data/crawl-state --seeds seeds.txt --max-pages 50000
  spark-submit ... run_crawl.py index --state /data/crawl-state
  spark-submit ... run_crawl.py page-rank --state /data/crawl-state
  spark-submit ... run_crawl.py serve-query --state /data/crawl-state -q "big data"

Locally it runs on local[*]; the synthetic web stands in for HTTP unless a
real fetcher is wired into CrawlConfig.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("mode", choices=["crawl", "index", "page-rank", "serve-query"])
    ap.add_argument("--state", required=True)
    ap.add_argument("--seeds", default=None, help="seed file of '<url> <depth>' lines")
    ap.add_argument("--max-pages", type=int, default=50_000)
    ap.add_argument("--max-depth", type=int, default=3)
    ap.add_argument("--synth-hosts", type=int, default=100)
    ap.add_argument("--synth-pages", type=int, default=100)
    ap.add_argument("-q", "--query", default=None)
    args = ap.parse_args()

    from sher_look_spark.session import get_spark

    spark = get_spark("sher-look-" + args.mode)
    if args.mode == "crawl":
        from sher_look_spark.crawler import synth
        from sher_look_spark.crawler.engine import CrawlConfig, CrawlEngine

        web = synth.SynthWebConfig(n_hosts=args.synth_hosts, pages_per_host=args.synth_pages)
        cfg = CrawlConfig(max_pages=args.max_pages, max_depth=args.max_depth, web=web)
        eng = CrawlEngine(spark, args.state, cfg)
        if args.seeds:
            from sher_look_spark.sources import read_seeds

            seeds = [r.url for r in read_seeds(spark, args.seeds).orderBy("rank").collect()]
        else:
            seeds = synth.seed_urls(web, min(200, args.synth_hosts))
        print(json.dumps(eng.run(seeds)))
    elif args.mode == "index":
        from sher_look_spark.crawler.storage import SnapshotStore
        from sher_look_spark.operators.webindex import index_incremental

        print(json.dumps(index_incremental(spark, SnapshotStore(args.state))))
    elif args.mode == "page-rank":
        from sher_look_spark.crawler.storage import SnapshotStore
        from sher_look_spark.operators.webindex import pagerank_from_links, store_pagerank

        store = SnapshotStore(args.state)
        pr = pagerank_from_links(spark, store)
        rel = store.stage_write(pr, "pagerank", 0)
        store.commit(replaces={"pagerank": [rel]})
        # documents-metadata parity: persist page_rank into documents_meta
        # (DatabaseHelper.updatePageRank :483) when the index tier has run
        if store.read(spark, "documents_meta") is not None:
            store_pagerank(spark, store)
        print(json.dumps({"ranked": store.read(spark, "pagerank").count()}))
    elif args.mode == "serve-query":
        from sher_look_spark.operators.webindex import search_pages

        for row in search_pages(spark, args.state, args.query or "").collect():
            print(json.dumps({"url": row.url, "title": row.title,
                              "score": row.final_score, "snippet": row.snippet}))
    spark.stop()


if __name__ == "__main__":
    main()
