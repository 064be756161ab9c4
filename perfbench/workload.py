"""One benchmark run in one process: crawl -> index -> PageRank -> serve.

Started by ``run.py`` as a child process, which owns the time limit, the
memory sampling and the clean-up. Every workload runs the same pipeline on
its own synthetic web:

1. start a Spark session on ``local[nproc]``;
2. crawl the web once from scratch: a fresh snapshot store, engine and
   seed list, then waves until the frontier below ``max_depth`` ends;
3. index the crawl (``index_incremental``), then ``store_pagerank``;
4. serve a closed loop of GET /search requests from one client through
   ``scripts/serve_http.make_handler`` on localhost.

The crawl is checked against the reference simulator, the index's row
counts and ranks against the crawl, and every search key's HTTP answer
against a direct ``search_pages`` call. Result JSON
goes to the path given by ``--out``; it is rewritten after every operation
so that a run killed for time still reports what it attempted.
"""

from __future__ import annotations

import argparse
import contextlib
import gc
import importlib.util
import itertools
import json
import os
import random
import statistics
import sys
import threading
import time
import urllib.parse
import urllib.request

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)
sys.path.insert(0, HERE)

import oracle  # noqa: E402
import procstat  # noqa: E402

# Web and crawl shape per workload. Each crawls a seed list of fixed size
# and payload mix (see seed_pages), so every --seed does about the same
# work, and each crawl ends when its frontier below max_depth runs out, not
# on a page budget: PageRank over a budget-cut crawl needs the full 100 power
# iterations (about a minute here). search_serve crawls one level of
# children, so the engine's child path (href canonicalization, pair-dedup
# anti-joins, links top-K, child ranks) runs and PageRank iterates over real
# edges; every page has the same number of links, so the crawl's size moves
# only with link collisions and robots rules from seed to seed.
_LIGHT = dict(img_min=16, img_max=32)
WORKLOADS = {
    "crawl_payload": {
        "web": dict(n_hosts=200, pages_per_host=200, min_links=6, max_links=12,
                    img_min=128, img_max=224, jpeg_every=3, webp_every=3, ico_every=5),
        # seed payload formats by position, in the web's own proportions
        # (a third JPEG, a third WebP, 4/15 PNG, 1/15 ICO), 6 times over
        "seed_formats": ("jpeg", "webp", "png", "jpeg", "webp", "png", "jpeg", "webp",
                         "ico", "jpeg", "webp", "png", "jpeg", "webp", "png") * 6,
        "max_depth": 0,
    },
    "search_serve": {
        "web": dict(n_hosts=100, pages_per_host=100, min_links=12, max_links=12, **_LIGHT),
        "seed_formats": ("png",) * 12,
        "max_depth": 1,
    },
}
MAX_PAGES = 100_000  # never binds: crawls end at max_depth
# the queue cap lifted, as bench.py's crawl_throughput does
QUEUE_CAP = 10**9

# The serving mix: at least REQUESTS closed-loop requests, and at least
# --seconds of them, whose keys are drawn Zipf(ZIPF_S) by popularity rank
# from QUERY_KEYS seeded keys. Each distinct key costs one uncached request
# and one direct search_pages call to check its answer, 2-4 s together on a
# 4-core machine; with the crawl, index and PageRank, 3 keys keep one run
# near a minute there.
REQUESTS = 100
QUERY_KEYS = 3
ZIPF_S = 1.0

PER_PAGE = 10


class Run:
    """Operation counts and metrics of one run, saved after each step."""

    def __init__(self, out_path: str):
        self.out_path = out_path
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.metrics: dict[str, tuple[float, str]] = {}
        self.context: dict = {}

    def op(self, errors: list[str] | None = None) -> None:
        self.attempted += 1
        if errors:
            self.failed += 1
            self.errors.extend(errors)
            for e in errors:
                print("CHECK FAILED:", e, file=sys.stderr)
        self.save()

    def metric(self, name: str, value: float, unit: str) -> None:
        self.metrics[name] = (float(value), unit)

    def save(self) -> None:
        doc = {
            "attempted": self.attempted, "failed": self.failed,
            "errors": self.errors[:20], "context": self.context,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in self.metrics.items()},
        }
        tmp = self.out_path + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(doc, fh)
        os.replace(tmp, self.out_path)


def query_vocabulary(state: str) -> tuple[list[str], list[tuple[str, str]]]:
    """Words and two-word phrases for the query keys, read from the index.

    Words are in at least a quarter of the documents and kept as themselves
    by the query tokenizer (stop words and stemmed forms would make a query
    that matches nothing), so term and multi-term queries fill three result
    pages. Phrases are adjacent pairs of such words in one section of at
    least 2% of the documents, so a phrase query has rows."""
    from sher_look_spark.functions.text import tokenize_py

    df = oracle.read_table(state, "word_df", ["word", "df"])
    n_docs = max(df["df"], default=0)
    words = sorted(
        w for w, n in zip(df["word"], df["df"]) if n * 4 >= n_docs and tokenize_py(w) == [w]
    )
    post = oracle.read_table(state, "postings", ["doc_id", "section", "word", "position"])
    at = dict(zip(zip(post["doc_id"], post["section"], post["position"]), post["word"]))
    kept = set(words)
    docs_of: dict[tuple[str, str], set] = {}
    for (doc, sec, pos), w in at.items():
        nxt = at.get((doc, sec, pos + 1))
        if w in kept and nxt in kept:
            docs_of.setdefault((w, nxt), set()).add(doc)
    phrases = sorted(k for k, docs in docs_of.items() if len(docs) * 50 >= n_docs)
    return words, phrases


def query_keys(seed: int, words: list[str], phrases: list[tuple[str, str]]) -> list[tuple[str, int]]:
    """QUERY_KEYS distinct (query, page) keys, most popular first.

    Keys cycle through single terms and multi-term queries on pages 1-3 and
    quoted phrases on page 1 (a two-word phrase matches too few pages to
    fill later ones)."""
    rng = random.Random(seed)
    keys: list[tuple[str, int]] = []
    while len(keys) < QUERY_KEYS:
        kind = len(keys) % 3  # term, multi-term, phrase
        if kind == 2:
            key = ('"%s"' % " ".join(rng.choice(phrases)), 1)
        else:
            text = " ".join(rng.sample(words, 1 if kind == 0 else 2 + rng.randrange(2)))
            key = (text, 1 + rng.randrange(3))
        if key not in keys:
            keys.append(key)
    return keys


def seed_pages(web, seed: int, formats: tuple[str, ...]) -> list[str]:
    """Seeded random page URLs whose payload format at position i is
    ``formats[i]``, each with distinct content and committed by the
    reference crawl (not timed out, not robots-blocked).

    Every --seed then crawls the same pages per format, and the same ranks
    (positions) carry the same formats: the engine hash-partitions the fetch
    by rank, so the per-task codec load, and the slowest task, do not change
    with the seed."""
    from sher_look_spark.crawler import synth
    from sher_look_spark.crawler.simulator import simulate_crawl

    rng = random.Random(seed)
    twin = oracle.order_twin(web)
    pools: dict[str, list[str]] = {f: [] for f in set(formats)}
    contents: set = set()
    urls = []
    for fmt in formats:
        while not pools[fmt]:
            host, page = rng.randrange(web.n_hosts), rng.randrange(web.pages_per_host)
            content = synth.content_key(web, host, page)
            url = synth.page_url(web, host, page)
            if content in contents or not simulate_crawl(twin, [url], max_depth=0).committed:
                continue
            contents.add(content)
            pools[synth.page_image_array(web, *content)[1]].append(url)
        urls.append(pools[fmt].pop())
    return urls


def quiesce(spark) -> None:
    """Collect garbage in the driver and the JVM before a timed step, so
    its time does not depend on how much garbage earlier steps left."""
    gc.collect()
    spark.sparkContext._jvm.System.gc()


def percentile(values: list[float], q: int) -> float:
    """q-th percentile (statistics.quantiles, 100 cut points)."""
    return statistics.quantiles(values, n=100)[q - 1]


def start_spark(cores: int, state_root: str):
    from sher_look_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(
        "perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=max(2 * cores, 8),
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(state_root, "warehouse"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t0


def crawl(spark, run: Run, wl: dict, web, seeds, state: str, cores: int) -> dict:
    """One crawl from scratch into ``state``: a fresh snapshot store, engine
    and seed list, then waves until the frontier below ``max_depth`` ends.

    The crawl is cold (code generation, JIT, Python worker start-up), as
    every crawl a new session starts is. It is checked against the reference
    simulator and, on a web with JPEG, WebP or ICO payloads, row by row
    against its payloads."""
    from sher_look_spark.crawler.engine import CrawlConfig, CrawlEngine
    from sher_look_spark.crawler.simulator import simulate_crawl

    cfg = CrawlConfig(max_pages=MAX_PAGES, max_depth=wl["max_depth"], queue_cap=QUEUE_CAP, web=web)
    ts = time.perf_counter()
    eng = CrawlEngine(spark, state, cfg)
    eng.seed(seeds)
    tc = time.perf_counter()
    u0 = procstat.tree_usage(os.getpid())
    committed = int(eng.run().get("committed", 0))
    u1 = procstat.tree_usage(os.getpid())
    out = {"setup": tc - ts, "wall": time.perf_counter() - tc, "committed": committed,
           "cpu": {k: u1[k] - u0[k] for k in ("cpu_total", "cpu_pyworker")}}
    sim = simulate_crawl(
        oracle.order_twin(web), seeds, max_pages=MAX_PAGES,
        max_depth=wl["max_depth"], queue_cap=QUEUE_CAP,
    )
    errors = oracle.check_crawl(state, sim)
    if any((web.jpeg_every, web.webp_every, web.ico_every)) and not errors:
        errors = oracle.check_payload(state, web, procs=cores)
    run.op(errors)
    return out


def index_and_rank(spark, run: Run, state: str) -> list[str]:
    """index_incremental then store_pagerank on ``state``; returns the
    crawled URLs."""
    from sher_look_spark.crawler.storage import SnapshotStore
    from sher_look_spark.operators import webindex

    store = SnapshotStore(state)
    quiesce(spark)
    ti = time.perf_counter()
    indexed = webindex.index_incremental(spark, store)["indexed"]
    run.metric("index_docs_per_s", indexed / (time.perf_counter() - ti), "docs/s")
    run.op()
    quiesce(spark)
    tp = time.perf_counter()
    webindex.store_pagerank(spark, store)
    run.metric("pagerank_s", time.perf_counter() - tp, "s")
    meta = oracle.read_table(state, "documents_meta", ["doc_id"])["doc_id"]
    pages = oracle.read_table(state, "pages", ["url"])["url"]
    pr = oracle.read_table(state, "page_rank", ["page_rank"])["page_rank"]
    errors = []
    if len(meta) != len(pages):
        errors.append(f"documents_meta rows {len(meta)} != pages rows {len(pages)}")
    if abs(sum(pr) - 1.0) > 1e-3:
        errors.append(f"page_rank sums to {sum(pr)}")
    run.op(errors)
    return pages


def direct_answer(spark, state: str, key: tuple[str, int]) -> list[dict]:
    """``webindex.search_pages`` for ``key``, in the serve tier's JSON shape."""
    from sher_look_spark.operators import webindex

    q, p = key
    return [
        {"url": r.url, "title": r.title, "score": r.final_score, "snippet": r.snippet}
        for r in webindex.search_pages(spark, state, q, p, PER_PAGE).collect()
    ]


def serve(spark, run: Run, tracer, state: str, crawled: set[str], keys: list,
          seed: int, seconds: float, cores: int) -> list[float]:
    """GET /search through serve_http.make_handler in a closed loop from
    one client, at least REQUESTS requests and for at least ``seconds``;
    each request draws its key from ``keys`` Zipf(ZIPF_S) by popularity
    rank. Returns the latencies in ms.

    Every key is first searched directly with search_pages, in parallel:
    these answers check the HTTP ones, and they warm the serve path up. Spark keeps no per-query state between the calls (no result
    cache), so every key's first HTTP request is equally warm. An answer
    with no rows fails, since every key's words are in many documents."""
    from concurrent.futures import ThreadPoolExecutor
    from http.server import ThreadingHTTPServer

    spec = importlib.util.spec_from_file_location(
        "serve_http", os.path.join(ROOT, "scripts", "serve_http.py")
    )
    serve_http = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(serve_http)
    handler = serve_http.make_handler(spark, state)
    if tracer is not None:
        tracer.wrap(handler, "do_GET", "serve.request", count_jobs=True)
    with ThreadPoolExecutor(max_workers=cores) as pool:
        direct = dict(zip(keys, pool.map(lambda k: direct_answer(spark, state, k), keys)))
    # the benchmark's own objects (oracle results, spans) must not lengthen
    # the server's garbage collections
    gc.collect()
    gc.freeze()
    server = ThreadingHTTPServer(("127.0.0.1", 0), handler)
    threading.Thread(target=server.serve_forever, daemon=True).start()
    base = f"http://127.0.0.1:{server.server_address[1]}/search"
    rng = random.Random(seed)
    weights = [1.0 / (r + 1) ** ZIPF_S for r in range(len(keys))]
    latencies, uncached, answers = [], [], {}
    t_loop = time.perf_counter()
    try:
        for i in itertools.count():
            if i >= REQUESTS and time.perf_counter() - t_loop >= seconds:
                break
            q, p = rng.choices(keys, weights)[0]
            url = f"{base}?" + urllib.parse.urlencode({"query": q, "page": p, "resultsPerPage": PER_PAGE})
            if tracer is not None:
                tracer.request_id = f"req-{i}"
            if (q, p) not in answers:
                quiesce(spark)
            tq = time.perf_counter()
            try:
                with urllib.request.urlopen(url, timeout=120) as resp:
                    body = json.loads(resp.read())
            except OSError as e:
                run.op([f"request {i} {q!r} failed: {e}"])
                continue
            ms = 1000 * (time.perf_counter() - tq)
            latencies.append(ms)
            results = body["results"]
            errors = oracle.check_answer(results, PER_PAGE, crawled)
            if (q, p) in answers:
                if results != answers[(q, p)]:
                    errors.append(f"cached answer for {q!r} p{p} changed")
            else:
                uncached.append(ms)
                answers[(q, p)] = results
                if not results:
                    errors.append(f"no rows for {q!r} p{p}")
                if results != direct[(q, p)]:
                    errors.append(f"HTTP answer for {q!r} p{p} != direct search_pages")
            run.op(errors)
    finally:
        server.shutdown()
        server.server_close()
        if tracer is not None:
            tracer.request_id = None
    run.metric("query_p50_ms", statistics.median(latencies), "ms")
    run.metric("query_p90_ms", percentile(latencies, 90), "ms")
    run.metric("query_uncached_ms", statistics.median(uncached), "ms")
    run.context.update(requests=len(latencies), uncached_ms=uncached)
    return latencies


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", required=True)
    ap.add_argument("--state", required=True)
    ap.add_argument("--trace-out", default=None)
    ap.add_argument("--untraced-ref", default=None)
    args = ap.parse_args()
    wl = WORKLOADS[args.workload]
    run = Run(args.out)
    t_start = time.perf_counter()

    def mark(name: str) -> None:
        """Seconds since start at the end of each step, as run context."""
        run.context.setdefault("marks_s", {})[name] = round(time.perf_counter() - t_start, 2)

    cores = len(os.sched_getaffinity(0))
    run.context.update(workload=args.workload, seed=args.seed, cores=cores)
    run.save()

    from sher_look_spark.crawler import synth

    web = synth.SynthWebConfig(seed=args.seed, **wl["web"])
    seeds = seed_pages(web, args.seed, wl["seed_formats"])
    mark("seeds")
    spark, session_s = start_spark(cores, args.state)
    tracer = None
    if args.trace:
        import layers

        tracer = layers.install(spark)

    def phase(name: str):
        return tracer.span(name) if tracer is not None else contextlib.nullcontext()

    state = os.path.join(args.state, "crawl")
    with phase("phase.crawl"):
        crawled = crawl(spark, run, wl, web, seeds, state, cores)
    mark("crawl")
    # set-up: the session and the crawl, which builds the index's input
    run.metric("setup_s", session_s + crawled["setup"] + crawled["wall"], "s")
    run.metric("crawl_pages_per_s", crawled["committed"] / crawled["wall"], "pages/s")
    run.metric("crawl_cpu_ms_per_page", 1000 * crawled["cpu"]["cpu_total"] / crawled["committed"],
               "ms/page")
    run.context.update(session_s=session_s, crawl_setup_s=crawled["setup"],
                       crawl_wall_s=crawled["wall"], committed=crawled["committed"])

    with phase("phase.index"):
        pages = index_and_rank(spark, run, state)
    mark("index_rank")
    with phase("phase.serve"):
        keys = query_keys(args.seed, *query_vocabulary(state))
        latencies = serve(spark, run, tracer, state, set(pages), keys, args.seed, args.seconds, cores)
    mark("serve")

    if tracer is not None:
        import layers

        crawled["latencies"] = latencies
        payload_web = synth.SynthWebConfig(seed=1, **WORKLOADS["crawl_payload"]["web"])
        layers.report(tracer, run, args, web, payload_web, seeds, state, crawled)
    run.save()
    spark.stop()
    mark("stop")
    run.save()
    return 0


if __name__ == "__main__":
    sys.exit(main())
