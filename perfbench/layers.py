"""The traced run: spans around every layer's public calls, single-threaded
timings of the layers that run inside Spark's Python workers, and the
per-layer metrics and self-time table derived from them."""

from __future__ import annotations

import ast
import json
import os
import statistics
import time

from spans import Tracer

# (module path, attribute owner, attribute, span name, count Spark jobs)
WRAPS = [
    ("sher_look_spark.crawler.engine", "CrawlEngine", "run_wave", "engine.run_wave", True),
    ("sher_look_spark.crawler.engine", "CrawlEngine", "seed", "engine.seed", True),
    ("sher_look_spark.crawler.storage", "SnapshotStore", "stage_write", "storage.stage_write", False),
    ("sher_look_spark.crawler.storage", "SnapshotStore", "commit", "storage.commit", False),
    ("sher_look_spark.crawler.storage", "SnapshotStore", "read", "storage.read", False),
    ("sher_look_spark.operators.webindex", None, "index_incremental", "index.index_incremental", True),
    ("sher_look_spark.operators.webindex", None, "store_pagerank", "ranking.store_pagerank", True),
    ("sher_look_spark.operators.webindex", None, "search_pages", "search.search_pages", True),
    ("sher_look_spark.operators.query_parse", None, "parse_query", "search.parse_query", False),
    ("sher_look_spark.operators.ranking", None, "snippets", "search.snippets", False),
    ("pyspark.sql.classic.dataframe", "DataFrame", "collect", "spark.collect", False),
]

FETCH_FORMATS = ("png", "jpeg", "webp", "ico")
FETCH_SAMPLE_PER_FORMAT = 6


def install(spark) -> Tracer:
    import importlib

    tracer = Tracer(spark.sparkContext)
    for mod_name, owner, attr, name, jobs in WRAPS:
        mod = importlib.import_module(mod_name)
        tracer.wrap(getattr(mod, owner) if owner else mod, attr, name, count_jobs=jobs)
    return tracer


def _du(path: str) -> tuple[int, int]:
    """(bytes, parquet part files) under ``path``."""
    size = files = 0
    for d, _, fs in os.walk(path):
        for f in fs:
            size += os.path.getsize(os.path.join(d, f))
            files += f.endswith(".parquet")
    return size, files


def _per_call_us(fn, args_list: list[tuple], passes: int = 3) -> float:
    """Median over ``passes`` of the mean single-threaded call time (us)."""
    times = []
    for _ in range(passes):
        t = time.perf_counter()
        for a in args_list:
            fn(*a)
        times.append((time.perf_counter() - t) / max(len(args_list), 1))
    return 1e6 * statistics.median(times)


def fixed_fetch_sample(payload_web) -> dict[str, list[str]]:
    """A fixed set of page URLs per payload format on the payload web."""
    from sher_look_spark.crawler import synth

    from oracle import order_twin

    twin = order_twin(payload_web)
    out: dict[str, list[str]] = {f: [] for f in FETCH_FORMATS}
    for host in range(payload_web.n_hosts):
        for page in range(payload_web.pages_per_host):
            url = synth.page_url(payload_web, host, page)
            ci, cj = synth.content_key(payload_web, host, page)
            _, fmt = synth.page_image_array(payload_web, ci, cj)
            if len(out[fmt]) < FETCH_SAMPLE_PER_FORMAT and synth.fetch(twin, url).status == "ok":
                out[fmt].append(url)
            if all(len(v) >= FETCH_SAMPLE_PER_FORMAT for v in out.values()):
                return out
    return out


def wave_metrics(state_dir: str) -> list[dict]:
    """Per-wave metrics rows the engine writes into each snapshot manifest."""
    snap_dir = os.path.join(state_dir, "_snapshots")
    rows = []
    for f in sorted(os.listdir(snap_dir)):
        if f.startswith("snap-"):
            with open(os.path.join(snap_dir, f)) as fh:
                m = json.load(fh).get("state", {}).get("metrics")
            # later snapshots (index, PageRank) carry the last wave's row on
            if m and (not rows or rows[-1]["wave"] != m["wave"]):
                rows.append(dict(m, phases=ast.literal_eval(m.get("phases", "{}"))))
    return rows


def report(tracer: Tracer, run, args, web, payload_web, seeds, state: str, crawl: dict) -> None:
    """Single-threaded layer timings, then every per-layer metric, the
    self-time table and the span dump. ``payload_web`` is the fixed web the
    fetch timings sample, whatever the workload."""
    from sher_look_spark.crawler import synth
    from sher_look_spark.functions import htmlparse, urls

    import oracle


    with tracer.span("phase.layer_timings"):
        # fetch: synth.fetch one URL at a time on a fixed sample per format
        for fmt, sample in fixed_fetch_sample(payload_web).items():
            ms = []
            for url in sample:
                with tracer.span(f"fetch.synth_fetch.{fmt}") as sp:
                    synth.fetch(payload_web, url)
                ms.append(1000 * (sp["end"] - sp["start"]))
            run.metric(f"fetch.ms_per_url.{fmt}", statistics.median(ms), "ms")
        payload = oracle.read_table(state, "images", ["bytes"])["bytes"]
        run.metric(
            "fetch.payload_kb_per_url",
            sum(len(b) for b in payload if b) / 1024 / max(len(payload), 1), "KB",
        )

        # urls: the raw hrefs of the crawl's committed pages
        pages = oracle.read_table(state, "pages", ["url", "html"])
        pairs = []
        for u in pages["url"]:
            host, page = synth.parse_page_url(web, u)
            pairs.extend((u, h) for h in synth.page_links_raw(web, host, page))
        children = [(c,) for c in (urls.canonicalize_href(b, h) for b, h in pairs) if c]
        with tracer.span("urls.canonicalize_href"):
            run.metric("urls.canonicalize_us", _per_call_us(urls.canonicalize_href, pairs), "us")
        with tracer.span("urls.normalize_url"):
            run.metric(
                "urls.normalize_us",
                _per_call_us(urls.normalize_url, children + [(s,) for s in seeds]), "us",
            )
        with tracer.span("index.extract_fields"):
            run.metric(
                "index.extract_us_per_doc",
                _per_call_us(htmlparse.extract_fields, [(h or "",) for h in pages["html"]]),
                "us",
            )

    tracer.resolve_spark_counts()
    spans = [s for s in tracer.spans if "end" in s]
    by_id = {s["id"]: s for s in spans}

    def phase_of(s: dict) -> str | None:
        while s is not None:
            if s["name"].startswith("phase."):
                return s["name"]
            s = by_id.get(s["parent"])
        return None

    def named(name: str, phase: str | None = None) -> list[dict]:
        return [s for s in spans if s["name"] == name and (phase is None or phase_of(s) == phase)]

    def dur(s: dict) -> float:
        return s["end"] - s["start"]

    def med(values: list[float], default: float = 0.0) -> float:
        return statistics.median(values) if values else default

    # crawler.engine
    waves = [s for s in named("engine.run_wave", "phase.crawl") if s.get("jobs", 0) > 0]
    run.metric("engine.wave_s_median", med([dur(s) for s in waves]), "s")
    run.metric("engine.wave_s_max", max((dur(s) for s in waves), default=0.0), "s")
    run.metric("engine.spark_jobs_per_wave", med([s["jobs"] for s in waves]), "count")
    run.metric("engine.spark_tasks_per_wave", med([s["tasks"] for s in waves]), "count")
    rows = wave_metrics(state)
    for ph in ("plan", "fetch_pipeline", "children_links", "child_rank", "table_writes"):
        run.metric(f"engine.phase.{ph}_s", sum(w["phases"].get(ph, 0.0) for w in rows), "s")
    cands = sum(w["candidates"] for w in rows)
    run.metric("engine.commit_ratio", sum(w["wave_committed"] for w in rows) / max(cands, 1), "ratio")

    # crawler.storage
    writes = named("storage.stage_write", "phase.crawl")
    commits = named("storage.commit", "phase.crawl")
    run.metric("storage.stage_write_s", sum(dur(s) for s in writes), "s")
    run.metric("storage.commit_ms", 1000 * med([dur(s) for s in commits]), "ms")
    requests = named("serve.request", "phase.serve")
    req_ids = {r["id"] for r in requests}
    searched = {s["parent"] for s in named("search.search_pages") if s["parent"] in req_ids}
    uncached = [r for r in requests if r["id"] in searched]
    reads = named("storage.read", "phase.serve")
    run.metric("storage.read_s", sum(dur(s) for s in reads) / max(len(uncached), 1), "s/request")
    # the whole store after the run: crawl, index and PageRank tables
    size, files = _du(state)
    run.metric("storage.bytes_per_page", size / max(crawl["committed"], 1), "B/page")
    run.metric("storage.files", files, "count")
    run.metric(
        "storage.snapshots",
        len([f for f in os.listdir(os.path.join(state, "_snapshots")) if f.startswith("snap-")]),
        "count",
    )

    # index, ranking, search, serve
    run.metric("index.spark_jobs", named("index.index_incremental")[0]["jobs"], "count")
    run.metric("ranking.pagerank_spark_jobs", named("ranking.store_pagerank")[0]["jobs"], "count")
    run.metric("search.parse_us", 1e6 * med([dur(s) for s in named("search.parse_query", "phase.serve")]), "us")
    sp = [s for s in named("search.search_pages", "phase.serve") if s["parent"] in searched]
    run.metric("search.search_pages_ms", 1000 * med([dur(s) for s in sp]), "ms")
    run.metric("search.snippets_ms", 1000 * med([dur(s) for s in named("search.snippets", "phase.serve")]), "ms")
    run.metric("search.spark_jobs_per_request", med([r["jobs"] for r in uncached]), "count")
    inner: dict[int, float] = {}
    for s in spans:
        if s["name"] in ("search.search_pages", "spark.collect") and s["parent"] in searched:
            inner[s["parent"]] = inner.get(s["parent"], 0.0) + dur(s)
    lat = crawl["latencies"]
    overhead = []
    for r in requests:
        i = int(r["request"].split("-")[1]) if r.get("request") else None
        if i is not None and i < len(lat):
            overhead.append(lat[i] - 1000 * inner.get(r["id"], 0.0))
    run.metric("serve.http_overhead_ms", med(overhead), "ms")
    run.metric("serve.cache_hit_ratio", 1 - len(uncached) / max(len(requests), 1), "ratio")

    # process
    cpu = crawl["cpu"]
    run.metric("proc.delivered_parallelism", cpu["cpu_total"] / crawl["wall"], "cores")
    run.metric("proc.python_cpu_share", cpu["cpu_pyworker"] / max(cpu["cpu_total"], 1e-9), "ratio")

    # tracing cost: its own bookkeeping, and the crawl slowdown against the
    # last untraced run of this workload in this checkout
    run.metric("trace.bookkeeping_ms", 1000 * tracer.bookkeeping_s, "ms")
    slowdown = 0.0
    note = "no untraced run of this workload in this checkout yet"
    if args.untraced_ref and os.path.exists(args.untraced_ref):
        with open(args.untraced_ref) as fh:
            ref = json.load(fh)["metrics"]
        untraced = ref["crawl_pages_per_s"]["value"]
        traced = run.metrics["crawl_pages_per_s"][0]
        slowdown = 100 * (untraced / traced - 1)
        note = f"untraced crawl {untraced:.1f} pages/s vs traced {traced:.1f} pages/s"
    run.metric("trace.crawl_slowdown_pct", slowdown, "%")

    lines = [f"per-layer self time ({args.workload}, seed {args.seed}; tracing: {note})",
             f"{'span':34s} {'calls':>6s} {'total_s':>9s} {'self_s':>9s}"]
    for name, calls, total, self_s in tracer.layer_table():
        lines.append(f"{name:34s} {calls:6d} {total:9.3f} {self_s:9.3f}")
    run.context["layer_table"] = lines
    if args.trace_out:
        tracer.dump(args.trace_out)
