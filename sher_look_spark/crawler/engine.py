"""The wave-based crawl engine — SURVEY §2.1 C1-C14 as DataFrame jobs.

One BFS generation ("wave") = one Spark job over the pending frontier:

  pending(depth d, FIFO rank)                                        [C1/C2]
    -> canonicalize (Arrow UDF)            normalize ×2 + null-reject [C3]
    -> within-wave first-rank-wins + anti-join vs `seen`              [C4]
    -> robots join (per-host rules fetched once, cached in `robots`)  [C5/C6]
    -> per-host politeness budget (optional, window)                  [C7]
    -> batched synthetic fetch (mapInPandas, Arrow)                   [C8]
    -> content-hash dedup (anti-join `seen_hashes` + wave window)     [C9]
    -> max-pages budget cut at the FIFO stop rank                     [C2]
    -> link explode -> canonicalize -> (url,depth) pair dedup         [C10]
    -> per-parent top-K by (len(url), doc order) into `links`         [C11]
    -> atomic snapshot commit of images/links/seen/frontier           [C12/C13]

Crawl order is BY CONSTRUCTION the reference's single-threaded FIFO order:
`discovery_rank` is a dense total order (seeds in file order; children in
(parent_rank, document_position) order), so sorting by (wave, rank) equals
the reference's poll order — verified against the pure-Python simulator.

Every operator has ONE code path:
* the URL-seen check is an exact `left_anti` join on url_hash — the
  reference's exact in-memory seen set (CrawlTask.java:82-93);
* politeness slots are a row_number over `Window.partitionBy("host")`;
* child discovery ranks are per-parent offsets: the per-parent counts (one
  row per committed parent) prefix-summed in one window, resolved lazily
  inside the concurrent write pool.

The big shuffles per wave are the `seen` anti-join and the child dedup,
hash-partitioned on url_hash / child url; `fetch` is hash-partitioned on
the rank so one hot host cannot pin a task.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sher_look_spark.crawler import synth
from sher_look_spark.crawler.storage import SnapshotStore
from sher_look_spark.functions.hashing import (
    sha256_b64url,
    sha256_b64url_col,  # HtmlSaver.java:21-30 names files sha256(url)
    url_hash64_col,
)
from sher_look_spark.functions.robots import parse_robots_txt, robots_allowed_udf
from sher_look_spark.functions.urls import canonicalize_href, normalize_url

PENDING_SCHEMA = "url string, depth int, rank long"

FETCH_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("depth", T.IntegerType()),
        T.StructField("rank", T.LongType()),
        T.StructField("status", T.StringType()),
        T.StructField("title", T.StringType()),
        T.StructField("description", T.StringType()),
        T.StructField("content_hash", T.StringType()),
        T.StructField("html", T.StringType()),
        T.StructField("links", T.ArrayType(T.StringType())),
        T.StructField("bytes", T.BinaryType()),
        T.StructField("w", T.IntegerType()),
        T.StructField("h", T.IntegerType()),
        T.StructField("fmt", T.StringType()),
        T.StructField("caption", T.StringType()),
        T.StructField("phash", T.LongType()),
    ]
)


# Fetch tasks are sized by DATA VOLUME (rows per task), not core count —
# the same rule file-scan splits follow (maxPartitionBytes): a payload
# fetch's cost is per-row, so fixed-size tasks keep the stage's tail short
# at ANY cluster size, where a cores-multiple partitioning leaves the
# biggest tasks ~3x the smallest (128-224 px payload spread) and the stage
# idles on the tail. Isolated-stage probes measured 505->672 rows/s at 32
# cores going from 3x-cores to 100-row tasks; full-crawl runs are
# VM-noise-dominated between 100 and 1000, so 400 balances tail smoothing
# against per-task and per-file overhead on the write stages downstream of
# the persisted fetch.
FETCH_ROWS_PER_TASK = 400
FETCH_CHUNK = 512  # rows per pandas frame the fetch mapper yields


@dataclass
class CrawlConfig:
    max_pages: int = 50_000          # application.properties:10
    max_depth: int = 3               # application.properties:12
    queue_cap: int = 50_000          # PersistentQueue.java:22
    # Time-based politeness (reference: 1 s sleep per fetch per thread,
    # CrawlTask.java:182). A wave models a `wave_budget_s`-second quantum;
    # each host serves at most floor(wave_budget_s / crawl_delay_s) fetches
    # per wave at scheduled_slot = host_slot * crawl_delay_s (SURVEY C7).
    # Overflow candidates are DEFERRED to the next wave, never dropped.
    # None = fidelity mode (no politeness budget).
    crawl_delay_s: float | None = None
    wave_budget_s: float = 60.0
    store_html: bool = True               # keep page HTML (enables the index tier)
    web: synth.SynthWebConfig = field(default_factory=synth.SynthWebConfig)


# applicationIds whose parquet WRITE path is already initialized. The first
# parquet write of a Spark session pays one-time costs the read path does
# not share (output committer + write-path codegen + codec init): measured
# 2.5 s on this box via cProfile — charged to whatever wave (or seed) runs
# first. Engine construction triggers it once so waves measure crawl work.
_WRITE_WARMED: set[str] = set()


def _warm_write_path(spark: SparkSession) -> None:
    app = spark.sparkContext.applicationId
    if app in _WRITE_WARMED:
        return
    _WRITE_WARMED.add(app)
    import shutil
    import tempfile

    d = tempfile.mkdtemp(prefix="sherlook-warmwrite-")
    try:
        spark.createDataFrame([("w", 0, 0)], PENDING_SCHEMA).coalesce(1).write.mode(
            "overwrite"
        ).parquet(os.path.join(d, "p"))
    finally:
        shutil.rmtree(d, ignore_errors=True)


def _normalize_udf():
    from pyspark.sql.functions import pandas_udf

    @pandas_udf(T.StringType())
    def norm(urls: pd.Series) -> pd.Series:
        # CrawlTask.java:71-73 normalizes twice; ours is idempotent, once is exact.
        return urls.map(normalize_url)

    return norm


def _canonicalize_href_udf():
    from pyspark.sql.functions import pandas_udf

    @pandas_udf(T.StringType())
    def canon(base: pd.Series, href: pd.Series) -> pd.Series:
        return pd.Series([canonicalize_href(b, h) for b, h in zip(base, href)])

    return canon


def _make_fetch_mapper(web: synth.SynthWebConfig):
    """mapInPandas fetcher: one Arrow batch in, fetched+decoded rows out.

    Stands in for the Jsoup GET (CrawlTask.java:104-113); on a real crawl this
    is where HTTP + image decode happens, batched per partition.
    """

    def mapper(batches):
        for big in batches:
            for start in range(0, len(big), FETCH_CHUNK):
                pdf = big.iloc[start : start + FETCH_CHUNK]
                out = {k: [] for k in FETCH_SCHEMA.fieldNames()}
                for url, depth, rank in zip(pdf["url"], pdf["depth"], pdf["rank"]):
                    r = synth.fetch(web, url)
                    out["url"].append(url)
                    out["depth"].append(int(depth))
                    out["rank"].append(int(rank))
                    out["status"].append(r.status)
                    out["title"].append(r.title)
                    out["description"].append(r.description)
                    out["content_hash"].append(sha256_b64url(r.html) if r.html is not None else None)
                    out["html"].append(r.html)
                    out["links"].append(r.links)
                    out["bytes"].append(r.image)
                    out["w"].append(r.w)
                    out["h"].append(r.h)
                    out["fmt"].append(r.fmt)
                    out["caption"].append(r.caption)
                    out["phash"].append(r.phash)
                # int columns with Nones must be nullable Int64 — the pandas
                # default (float64) silently destroys the low bits of phash
                for col in ("w", "h", "phash"):
                    out[col] = pd.array(out[col], dtype="Int64")
                yield pd.DataFrame(out)

    return mapper


def _dense_rank_sorted(df: DataFrame, sort_cols: list, out_col: str, offset: int) -> DataFrame:
    """Dense offset..offset+n-1 ranks in global sort order, JVM-only and
    scale-safe: range-repartition on the sort keys (partition i < partition
    i+1), per-partition row_number, plus collected per-partition offsets.
    No single-reducer window, no Python row serialization."""
    from pyspark.sql import Window

    spark = df.sparkSession
    nparts = max(spark.sparkContext.defaultParallelism, 2)
    sdf = (
        df.repartitionByRange(nparts, *sort_cols)
        .sortWithinPartitions(*sort_cols)
        .withColumn("_pid", F.spark_partition_id())
        .persist()
    )
    counts = {r._pid: r.n for r in sdf.groupBy("_pid").agg(F.count(F.lit(1)).alias("n")).collect()}
    base = offset
    offsets = {}
    for pid in sorted(counts):
        offsets[pid] = base
        base += counts[pid]
    off_df = F.broadcast(
        spark.createDataFrame(
            [(int(p), int(o)) for p, o in offsets.items()], "_pid int, _off long"
        )
    )
    w = Window.partitionBy("_pid").orderBy(*sort_cols)
    out = (
        sdf.join(off_df, "_pid")
        .withColumn(out_col, F.row_number().over(w) - 1 + F.col("_off"))
        .drop("_pid", "_off")
    )
    return out, sdf, base - offset  # (ranked df, persist handle, total rows)


def _running_prefix_min(df: DataFrame, sort_cols: list, val_col: str) -> tuple:
    """Global running min of `val_col` in `sort_cols` order, scale-safe (the
    same two-pass shape as _dense_rank_sorted): range-repartition on the sort
    keys, per-partition window running-min, then fold in the driver-combined
    minima of all earlier partitions (one tiny collect).

    Adds two columns: `_rmin` (inclusive running min) and `_rmin_prev`
    (exclusive: min over strictly-earlier rows; null for the global first row).
    Returns (df, persist_handle)."""
    from pyspark.sql import Window

    spark = df.sparkSession
    nparts = max(spark.sparkContext.defaultParallelism, 2)
    sdf = (
        df.repartitionByRange(nparts, *sort_cols)
        .sortWithinPartitions(*sort_cols)
        .withColumn("_pid", F.spark_partition_id())
        .persist()
    )
    pmins = {
        r._pid: r.m
        for r in sdf.groupBy("_pid").agg(F.min(val_col).alias("m")).collect()
    }
    before: dict[int, int | None] = {}
    run = None
    for pid in sorted(pmins):
        before[pid] = run
        run = pmins[pid] if run is None else min(run, pmins[pid])
    off_df = F.broadcast(
        spark.createDataFrame(
            [(int(p), before[p]) for p in before], "_pid int, _before long"
        )
    )
    w = Window.partitionBy("_pid").orderBy(*sort_cols)
    w_excl = w.rowsBetween(Window.unboundedPreceding, -1)
    out = (
        sdf.join(off_df, "_pid")
        # F.least skips nulls (returns the smallest non-null argument)
        .withColumn("_rmin", F.least(F.min(val_col).over(w), F.col("_before")))
        .withColumn("_rmin_prev", F.least(F.min(val_col).over(w_excl), F.col("_before")))
        .drop("_pid", "_before")
    )
    return out, sdf


class CrawlEngine:
    def __init__(self, spark: SparkSession, state_dir: str, cfg: CrawlConfig):
        self.spark = spark
        self.cfg = cfg
        self.store = SnapshotStore(state_dir)
        self._norm = _normalize_udf()
        self._canon = _canonicalize_href_udf()
        _warm_write_path(spark)

    # ------------------------------------------------------------------ setup
    def seed(self, seeds: list[str]) -> None:
        """C1: seed the frontier iff it is initially empty (Crawler.java:87-105)."""
        if self.store.latest() is not None:
            return
        rows = [(u, 0, i) for i, u in enumerate(seeds)]
        df = self.spark.createDataFrame(rows, PENDING_SCHEMA)
        rel = self.store.stage_write(df, "pending", 0)
        self.store.commit(
            replaces={"pending": [rel]},
            state={
                "wave": 0,
                "committed": 0,
                "next_rank": len(seeds),
                "pending_depths": {"0": len(seeds)},
            },
        )

    # ------------------------------------------------------------- robots (C5)
    def _resolve_robots(self, cand: DataFrame) -> DataFrame:
        """Fetch+parse robots.txt once per new host; persist to `robots`.

        Returns (wave_rules, fetched): ``wave_rules`` is scoped to the wave's
        distinct hosts — the full accumulated robots table (every host ever
        seen; 10^7-10^8 rows at web scale) is scanned but never broadcast or
        shuffled; only the wave's slice travels.
        """
        robots = self.store.read(self.spark, "robots")
        hosts = cand.select("host").distinct()
        if robots is not None:
            new_hosts = hosts.join(robots.select("host"), "host", "left_anti")
        else:
            new_hosts = hosts
        web = self.cfg.web

        def fetch_robots(batches):
            for pdf in batches:
                rows = {"host": [], "has_rules": [], "allow": [], "disallow": []}
                for host in pdf["host"]:
                    page = synth.parse_page_url(web, f"http://{host}/page/0")
                    body = synth.robots_txt(web, page[0]) if page else None
                    rules = parse_robots_txt(body) if body is not None else None
                    rows["host"].append(host)
                    rows["has_rules"].append(rules is not None)
                    rows["allow"].append(rules[0] if rules else [])
                    rows["disallow"].append(rules[1] if rules else [])
                yield pd.DataFrame(rows)

        schema = "host string, has_rules boolean, allow array<string>, disallow array<string>"
        fetched = new_hosts.mapInPandas(fetch_robots, schema)
        combined = robots.unionByName(fetched) if robots is not None else fetched
        wave_rules = combined.join(hosts, "host", "left_semi")
        return wave_rules, fetched

    # --------------------------------------------------------------- one wave
    def run_wave(self) -> dict:
        t0 = time.time()
        _tprev = [t0]
        phase_secs: dict[str, float] = {}

        def _mark(name: str) -> None:
            now = time.time()
            phase_secs[name] = round(now - _tprev[0], 2)
            _tprev[0] = now
        snap = self.store.latest()
        assert snap is not None, "seed() first"
        state = dict(snap.state)
        wave = state["wave"]
        committed_total = state["committed"]
        budget = self.cfg.max_pages - committed_total
        pending = self.store.read(self.spark, "pending")
        if pending is None or budget <= 0:
            return {"done": True, **state}
        pending = pending.persist()
        # depth histogram: carried in snapshot state (zero jobs); recomputed
        # only when resuming from a pre-histogram snapshot
        if "pending_depths" in state:
            depth_counts = {int(k): v for k, v in state["pending_depths"].items() if v > 0}
        else:
            depth_counts = {
                r.depth: r.n
                for r in pending.groupBy("depth").agg(F.count(F.lit(1)).alias("n")).collect()
            }
        n_pending_total = sum(depth_counts.values())
        if n_pending_total == 0:
            pending.unpersist()
            return {"done": True, **state}
        min_depth = min(depth_counts)
        n_wave = depth_counts[min_depth]
        wave_cand = pending.filter(F.col("depth") == min_depth)
        rest_pending = pending.filter(F.col("depth") != min_depth)

        # Budget pre-trim: when the remaining page budget is far below the
        # wave size, fetching the whole wave is wasted work — process only the
        # first margin*budget candidates (ranks are dense within a wave, so
        # the cutoff needs no counting) and leave the contiguous suffix
        # pending. If skips eat into the margin, the next wave continues at
        # the same depth in exact FIFO order — correctness is order-based,
        # not wave-boundary-based. The margin ADAPTS to the previous wave's
        # observed commit rate (deep waves skip most candidates as already
        # seen; a fixed 2x margin would re-enter the same depth repeatedly,
        # paying the per-wave serial constant each time).
        pre_trimmed = None
        rate = state.get("commit_rate")
        # `rate is None`, not falsy: a 0.0 rate (every candidate already seen)
        # is exactly the deep-wave case that needs the MAX margin, not the min.
        # With a KNOWN healthy commit rate the floor drops to 1.15: fetching
        # 2x the remaining budget on the final wave threw away up to one
        # budget's worth of payload fetches (~20% of total crawl CPU at
        # 100k/web-sized payloads) to insure against an under-commit whose
        # actual cost is one extra wave constant (~15-20 s) — the engine
        # already continues the SAME depth in exact FIFO order when a wave
        # under-commits, so a short window is a latency tradeoff, never a
        # correctness one.
        if rate is None:
            margin = 2.0
        else:
            margin = min(max(1.15, 1.3 / max(rate, 1e-6)), 16.0)
        window_size = int(margin * budget)
        # Politeness deferral re-inserts SCATTERED ranks at the same depth, so
        # the fast split below (which assumes the wave's ranks are dense from
        # min(rank)) would mis-count; such depths are flagged in state and use
        # an exact ordered split instead (TakeOrderedAndProject, no full sort).
        scattered = set(state.get("scattered_depths", []))
        if n_wave > window_size + 1:
            if min_depth in scattered:
                head = (
                    wave_cand.orderBy("rank").limit(window_size)
                    .agg(F.max("rank").alias("mx"), F.count(F.lit(1)).alias("cnt"))
                    .collect()[0]
                )
                cutoff = head.mx + 1
                n_kept = head.cnt
            else:
                wave_min_rank = wave_cand.agg(F.min("rank")).collect()[0][0]
                cutoff = wave_min_rank + window_size
                n_kept = window_size
            pre_trimmed = wave_cand.filter(F.col("rank") >= cutoff)
            wave_cand = wave_cand.filter(F.col("rank") < cutoff)
            n_trimmed = n_wave - n_kept
            n_wave = n_kept

        # --- C3: canonicalize; invalid URLs are polled but never visited.
        # Persisted: feeds both the fetch chain and the seen-set append.
        cand = (
            wave_cand.withColumn("norm", self._norm("url"))
            .filter(F.col("norm").isNotNull())
            .withColumn("url_hash", url_hash64_col("norm"))
            .withColumn("host", F.parse_url("norm", F.lit("HOST")))
            .withColumn("path", F.coalesce(F.parse_url("norm", F.lit("PATH")), F.lit("")))
        ).persist()

        # --- C4: within-wave first-rank-wins + exact URL-seen anti-join (the
        # reference's in-memory seen check, CrawlTask.java:82-93)
        w_url = Window.partitionBy("url_hash").orderBy("rank")
        winners = cand.withColumn("rn", F.row_number().over(w_url)).filter(F.col("rn") == 1).drop("rn")
        seen = self.store.read(self.spark, "seen")
        if seen is not None:
            winners = winners.join(seen.select("url_hash"), "url_hash", "left_anti")

        # --- C7: optional per-host politeness budget (deferred, not dropped).
        # The crawl-delay time budget converts to slots/wave and stamps each
        # fetch's scheduled_slot offset within the wave quantum.
        deferred = None
        slots = None
        if self.cfg.crawl_delay_s is not None:
            host_cap = max(1, int(self.cfg.wave_budget_s / self.cfg.crawl_delay_s))
            w_host = Window.partitionBy("host").orderBy("rank")
            winners = winners.withColumn("host_slot", F.row_number().over(w_host))
            deferred = winners.filter(F.col("host_slot") > host_cap)
            winners = winners.filter(F.col("host_slot") <= host_cap)
            slots = winners.select(
                "rank",
                ((F.col("host_slot") - 1) * float(self.cfg.crawl_delay_s)).alias(
                    "scheduled_slot"
                ),
            )
            winners = winners.drop("host_slot")

        # --- C5/C6: robots rules join + allow filter. Only the WAVE's hosts'
        # rules are broadcast — broadcasting the whole accumulated robots
        # table would ship every host ever crawled to every task, every wave.
        robots, robots_new = self._resolve_robots(winners)
        robots_cached = robots.persist()
        joined = winners.join(F.broadcast(robots_cached), "host", "left")
        joined = joined.withColumn(
            "allowed",
            F.when(F.col("has_rules").isNull() | ~F.col("has_rules"), F.lit(True)).otherwise(
                robots_allowed_udf("path", "allow", "disallow")
            ),
        )
        allowed = joined.filter(F.col("allowed")).select("norm", "depth", "rank")

        # --- C8: batched fetch, rank-hash partitioned so hot hosts spread
        # out. Hash the RAW rank (high cardinality -> uniform over all
        # partitions): hashing pmod(rank, nparts) — n salt VALUES into n
        # hash buckets — leaves ~1/e of the fetch partitions EMPTY by
        # birthday collision (measured: 4-5 busy of 8 at local[8]), i.e.
        # the fetch stage ran on ~2/3 of the cluster. Task count follows
        # DATA size (FETCH_ROWS_PER_TASK), floored at the cluster width.
        nparts = max(
            self.spark.sparkContext.defaultParallelism,
            -(-n_wave // FETCH_ROWS_PER_TASK),
        )
        fetch_in = allowed.withColumnRenamed("norm", "url").repartition(
            nparts, F.col("rank")
        )
        fetched = fetch_in.mapInPandas(_make_fetch_mapper(self.cfg.web), FETCH_SCHEMA).persist()

        # --- C9: content dedup (cross-wave anti-join + within-wave window).
        # Decisions run on a SLIM projection so payload bytes NEVER shuffle —
        # the winning ranks come back to the cached `fetched` partitions via a
        # broadcast semi-join (rank is unique within a wave).
        slim = fetched.select("rank", "content_hash", "status", F.size("links").alias("n_links"))
        ok = slim.filter(F.col("status") == "ok")
        seen_hashes = self.store.read(self.spark, "seen_hashes")
        if seen_hashes is not None:
            ok = ok.join(seen_hashes, "content_hash", "left_anti")
        w_hash = Window.partitionBy("content_hash").orderBy("rank")
        survivors = ok.withColumn("hrn", F.row_number().over(w_hash)).filter(F.col("hrn") == 1).drop("hrn")

        # --- C2: max-pages budget — cut at the FIFO stop rank. The count is
        # skipped entirely when the budget cannot bind (survivors <= wave size).
        stop_rank = None
        if n_wave > budget:
            n_survivors = survivors.count()
            if n_survivors > budget:
                stop_rank = (
                    survivors.orderBy("rank").limit(budget).agg(F.max("rank")).collect()[0][0]
                )
                survivors = survivors.filter(F.col("rank") <= stop_rank)
        committed_slim = survivors.persist()
        _mark("plan")
        # Deferred wave stats: when neither the page budget (n_wave <= budget)
        # nor the queue cap (raw links bounded by n_wave * max_links) can
        # possibly bind, the stats aggregation gates NO decision this wave —
        # so it runs concurrently with the table writes below instead of
        # standing as its own serial pipeline barrier. Cuts the per-wave
        # serial constant from 3 driver barriers to 2 (the child-rank offsets
        # and the write pool), which is what the N->4N scaling protocol
        # amortizes (Amdahl on the per-wave constant).
        _cstats_agg = lambda: committed_slim.agg(  # noqa: E731
            F.count(F.lit(1)).alias("n"),
            F.coalesce(F.sum("n_links"), F.lit(0)).alias("raw_links"),
        ).collect()[0]
        stats_deferred = (
            n_wave <= budget
            and n_pending_total + n_wave * self.cfg.web.max_links <= self.cfg.queue_cap
        )
        if stats_deferred:
            n_committed = n_raw_links = None
        else:
            cstats = _cstats_agg()
            n_committed, n_raw_links = cstats.n, cstats.raw_links
        # NOT persisted: its three consumers (children explode, images write,
        # pages write) each re-derive it as a broadcast semi-join over the
        # `fetched` cache — a second materialized copy of the payload bytes
        # would double the wave's cache churn (and the first consumer's
        # cache-write convoy) for three cheap cache scans.
        committed = fetched.join(
            F.broadcast(committed_slim.select("rank")), "rank", "left_semi"
        )
        _mark("fetch_pipeline")

        # --- C10/C11: children of committed parents
        next_rank = state["next_rank"]
        links_df = None
        windowed = None
        if min_depth < self.cfg.max_depth and (n_committed is None or n_committed > 0):
            exploded = committed.select(
                F.col("url").alias("parent_url"),
                F.col("depth").alias("parent_depth"),
                F.col("rank").alias("parent_rank"),
                F.posexplode("links").alias("link_pos", "href"),
            )
            children_all = (
                exploded.withColumn("child", self._canon("parent_url", "href"))
                .filter(F.col("child").isNotNull())
            )
            # dedup vs URLs still pending at other depths (uncrawledSet
            # semantics): an offer colliding with a QUEUED pair is a no-op
            # regardless of the cap state, so this anti-join commutes with
            # cap admission
            others = rest_pending
            if deferred is not None:
                others = others.unionByName(
                    deferred.select(F.col("norm").alias("url"), "depth", "rank")
                )
            if others is not None:
                # offer() dedups on (url, depth) PAIRS (PersistentQueue.java:17,97)
                # — only pending entries at the children's depth collide
                pend_pairs = others.filter(F.col("depth") == min_depth + 1).select(
                    F.col("url").alias("child")
                )
                children_all = children_all.join(pend_pairs, "child", "left_anti")

            # queue cap (PersistentQueue.java:22,97): accept-all fast path when
            # the cap cannot bind (raw link count bounds accepted children;
            # n_raw_links is None only when the max_links bound already
            # proved the cap unreachable); exact DISTRIBUTED admission
            # replay otherwise.
            if n_raw_links is not None and n_pending_total + n_raw_links > self.cfg.queue_cap:
                polled_wave = wave_cand
                if deferred is not None:
                    polled_wave = polled_wave.join(
                        deferred.select("rank"), "rank", "left_anti"
                    )
                accepted = self._apply_queue_cap_exact(
                    polled_wave, n_pending_total, children_all
                )
            else:
                # offer() pair-dedup: first (parent_rank, link_pos) wins
                w_child = Window.partitionBy("child").orderBy("parent_rank", "link_pos")
                accepted = (
                    children_all.withColumn("crn", F.row_number().over(w_child))
                    .filter(F.col("crn") == 1)
                    .drop("crn")
                )

            # links top-K, child discovery ranks and the per-parent counts
            # all key on parent_rank — ONE hash exchange of the children
            # serves every one of them (guide §2.4: operations keyed the same
            # way share an exchange). Both row_numbers ride the same
            # partitioning (two sorts, one shuffle).
            limit_expr = F.coalesce(
                *[
                    F.when(F.col("parent_depth") == d, F.lit(k))
                    for d, k in ((0, 300), (1, 150), (2, 75), (3, 50))
                ],
                F.lit(25),
            )
            w_parent = Window.partitionBy("parent_rank").orderBy(
                F.length("child"), "link_pos"
            )
            w_crank = Window.partitionBy("parent_rank").orderBy("link_pos")
            # Persisted: three consumers (links write, pending write, the
            # accepted count) hit `windowed` CONCURRENTLY in the write pool
            # below — without the cache each would recompute the exchange +
            # both sorts (and on an AQE-coalesced tiny wave, serially on 1
            # task)
            windowed = (
                accepted.withColumn("k", limit_expr)
                .withColumn("lrn", F.row_number().over(w_parent))
                .withColumn("_crk", F.row_number().over(w_crank))
            ).persist()
            # links write happens in the concurrent write pool below — only
            # the DataFrame is built here
            links_df = (
                windowed.filter(F.col("lrn") <= F.col("k"))
                .select(
                    F.col("parent_url"),
                    F.col("child").alias("child_url"),
                    (F.col("lrn") - 1).alias("link_rank"),
                    F.lit(wave).alias("wave"),
                )
            )
            _mark("children_links")

            # Child ranks: the per-parent offset table (<= one row per
            # committed parent) prefix-sums in a single-partition window, so
            # NO driver action runs here — the whole child-rank plan
            # materializes inside the concurrent write pool below, and the
            # accepted count is resolved there too (from the cache).
            counts = windowed.groupBy("parent_rank").agg(
                F.count(F.lit(1)).alias("_n")
            )
            w_off = Window.orderBy("parent_rank").rowsBetween(
                Window.unboundedPreceding, -1
            )
            offsets = counts.withColumn(
                "_off",
                F.lit(next_rank) + F.coalesce(F.sum("_n").over(w_off), F.lit(0)),
            ).select("parent_rank", "_off")
            new_pending = (
                windowed.join(offsets, "parent_rank")
                .select(
                    F.col("child").alias("url"),
                    (F.col("parent_depth") + 1).alias("depth"),
                    (F.col("_off") + F.col("_crk") - 1).alias("rank"),
                )
            )
            _mark("child_rank")
        else:
            new_pending = self.spark.createDataFrame([], PENDING_SCHEMA)

        # --- visited set additions: everything polled before the stop.
        # Politeness-DEFERRED candidates were never polled (they stay queued),
        # so they must NOT enter the seen set — otherwise the next wave's
        # seen filter would drop them unfetched.
        polled = cand if stop_rank is None else cand.filter(F.col("rank") <= stop_rank)
        if deferred is not None:
            polled = polled.join(deferred.select("rank"), "rank", "left_anti")
        seen_add = polled.select("url_hash", F.col("norm").alias("url")).distinct()
        if seen is not None:
            seen_add = seen_add.join(seen.select("url_hash"), "url_hash", "left_anti")

        # --- leftover pending (unpolled due to budget stop) + politeness
        # deferrals; depth histogram maintained incrementally so the next wave
        # needs no counting job (slow-path counts only on the rare stop/defer).
        # The accepted children's histogram and next_rank contributions are
        # applied after the write pool resolves their count.
        next_depths: dict[int, int] = {d: n for d, n in depth_counts.items() if d != min_depth}
        leftovers = []
        if pre_trimmed is not None:
            leftovers.append(pre_trimmed)
            next_depths[min_depth] = next_depths.get(min_depth, 0) + n_trimmed
        if stop_rank is not None:
            leftover_df = wave_cand.filter(F.col("rank") > stop_rank)
            if deferred is not None:
                # a politeness-deferred row past the stop rank is ALSO in
                # deferred_df below — without this anti-join it would enter
                # pending twice and double-count the depth histogram
                leftover_df = leftover_df.join(
                    deferred.select("rank"), "rank", "left_anti"
                )
            leftovers.append(leftover_df)
            next_depths[min_depth] = next_depths.get(min_depth, 0) + leftover_df.count()
        if deferred is not None:
            deferred_df = deferred.select(F.col("norm").alias("url"), "depth", "rank")
            leftovers.append(deferred_df)
            next_depths[min_depth] = next_depths.get(min_depth, 0) + deferred_df.count()
        if rest_pending is not None:
            leftovers.append(rest_pending)
        pending_next = new_pending
        for extra in leftovers:
            pending_next = pending_next.unionByName(extra)

        # --- C12/C13: stage everything, then one atomic snapshot commit.
        # documents-metadata parity (reference schema.sql:4-15): crawl_time
        # stamps the wave; index_time starts NULL and is set by the index
        # tier; scheduled_slot records the politeness offset when time-budget
        # politeness is on.
        images_df = committed.select(
            sha256_b64url_col("url").alias("image_id"),
            "url", "depth", "rank", "title", "description", "content_hash",
            "bytes", "w", "h", "fmt", "caption", "phash",
            F.lit(wave).alias("wave"),
            F.current_timestamp().alias("crawl_time"),
        )
        if slots is not None:
            images_df = images_df.join(F.broadcast(slots), "rank", "left")
        else:
            images_df = images_df.withColumn(
                "scheduled_slot", F.lit(None).cast("double")
            )
        # All staged writes are independent — submit them concurrently (Spark
        # schedules concurrent jobs fine); the snapshot commit below is the
        # only serialization point. Cuts the per-wave serial constant by the
        # sum of the smaller writes' wall times.
        from concurrent.futures import ThreadPoolExecutor

        write_jobs: dict[str, tuple[DataFrame, int]] = {
            "images": (images_df, wave),
            "seen": (seen_add, wave),
            "seen_hashes": (committed_slim.select("content_hash"), wave),
            "pending": (pending_next, wave + 1),
            "robots": (robots_new, wave),
        }
        if self.cfg.store_html:
            write_jobs["pages"] = (
                committed.select("url", "depth", "rank", "html", F.lit(wave).alias("wave")),
                wave,
            )
        if links_df is not None:
            write_jobs["links"] = (links_df, wave)
        n_accepted = 0
        with ThreadPoolExecutor(max_workers=len(write_jobs) + 2) as pool:
            futures = {
                name: pool.submit(self.store.stage_write, df, name, w)
                for name, (df, w) in write_jobs.items()
            }
            stats_fut = pool.submit(_cstats_agg) if stats_deferred else None
            # the accepted-children count rides the pool too (reads the
            # `windowed` cache the links/pending write jobs materialize)
            # instead of standing as its own serial job
            acc_fut = pool.submit(windowed.count) if windowed is not None else None
            rels = {name: fut.result() for name, fut in futures.items()}
            if stats_fut is not None:
                n_committed = stats_fut.result().n
            if acc_fut is not None:
                n_accepted = acc_fut.result()
        if n_accepted:
            next_depths[min_depth + 1] = next_depths.get(min_depth + 1, 0) + n_accepted
        next_rank += n_accepted
        _mark("table_writes")
        appends: dict[str, list[str]] = {
            name: [rels[name]] for name in write_jobs if name != "pending"
        }
        # per-wave lineage + metrics live in the snapshot manifest itself (one
        # snapshot per wave = the full history) — a table write per wave would
        # only add a serial job to every wave
        metrics_row = {
            "wave": wave,
            "depth": int(min_depth),
            "candidates": int(n_pending_total),
            "wave_committed": int(n_committed),
            "children_accepted": int(n_accepted),
            "secs": float(time.time() - t0),
            "phases": str(phase_secs),
        }

        # depths whose pending ranks are no longer dense (deferral scatters);
        # cleared automatically once the depth drains
        live_depths = {d for d, v in next_depths.items() if v > 0}
        scattered_next = scattered | ({min_depth} if deferred is not None else set())
        new_state = {
            "wave": wave + 1,
            "committed": committed_total + n_committed,
            "next_rank": int(next_rank),
            "stopped_by_budget": stop_rank is not None,
            "pending_depths": {str(d): int(n) for d, n in next_depths.items() if n > 0},
            # observed commit rate of this wave -> next wave's pre-trim margin
            "commit_rate": (float(n_committed) / n_wave) if n_wave else None,
            "scattered_depths": sorted(scattered_next & live_depths),
            "metrics": metrics_row,
        }
        self.store.commit(
            appends=appends, replaces={"pending": [rels["pending"]]}, state=new_state
        )
        for h in (pending, cand, fetched, committed_slim, robots_cached, windowed):
            if h is not None:
                h.unpersist()
        return {"done": False, **metrics_row, **new_state}

    def _apply_queue_cap_exact(
        self, polled_wave: DataFrame, n_pending_total: int, children_all: DataFrame
    ) -> DataFrame:
        """Distributed replay of offer()'s queue-size cap (PersistentQueue.java:22,97).

        Sequential semantics being replayed: polls (in rank order) free one
        slot each BEFORE their parent's offers; an offer colliding with a
        queued pair is a no-op (handled upstream); otherwise it is accepted
        iff queue_size < cap at offer time.

        Closed-form greedy admission: order the live offers by
        (parent_rank, link_pos) with dense 1-based index i and per-offer
        budget b_i = cap - n0 + polls(i) (non-decreasing, because polls is).
        The accepted count after offer i is
            A_i = min(i, i + min_{j<=i}(max(b_j, 0) - j)),
        and offer i is accepted iff A_i > A_{i-1}. Both the dense index and
        the prefix min run on the two-pass range-partition machinery — no
        single-reducer window and no driver materialization of children (the
        previous implementation pulled every child row through toPandas,
        which OOMs the driver on a cap-binding wave at web scale).

        Re-offer fixpoint: the reference queue pair-dedups only QUEUED
        entries, so a child whose occurrence was rejected at a full queue is
        offered again at its next occurrence once polls free slots. Rejected
        occurrences are burned and admission re-runs; removing rejected
        offers never changes other decisions (they consume no slot), so each
        round only adds later occurrences of burned children, and the loop
        stops when no rejected child has a further occurrence. Equality with
        a pure sequential replay is pinned by tests/test_queue_cap.py.
        """
        cap = self.cfg.queue_cap
        polls_df, _polls_handle, _ = _dense_rank_sorted(
            polled_wave.select("rank"), ["rank"], "_polls", 1
        )
        occ = children_all.join(
            polls_df.withColumnRenamed("rank", "parent_rank"), "parent_rank"
        ).persist()
        w_child = Window.partitionBy("child").orderBy("parent_rank", "link_pos")
        burned: DataFrame | None = None
        accepted: DataFrame | None = None
        spent_handles: list[DataFrame] = []
        for _round in range(64):
            live = occ
            if burned is not None:
                live = live.join(burned, ["parent_rank", "link_pos"], "left_anti")
            cand = (
                live.withColumn("_crn", F.row_number().over(w_child))
                .filter(F.col("_crn") == 1)
                .drop("_crn")
            )
            ranked, h1, _n = _dense_rank_sorted(cand, ["parent_rank", "link_pos"], "_i", 1)
            g = ranked.withColumn(
                "_g",
                F.greatest(F.lit(cap - n_pending_total) + F.col("_polls"), F.lit(0))
                - F.col("_i"),
            )
            scanned, h2 = _running_prefix_min(g, ["parent_rank", "link_pos"], "_g")
            a_cur = F.least(F.col("_i"), F.col("_i") + F.col("_rmin"))
            a_prev = F.when(F.col("_rmin_prev").isNull(), F.lit(0)).otherwise(
                F.least(F.col("_i") - 1, F.col("_i") - 1 + F.col("_rmin_prev"))
            )
            flagged = scanned.withColumn("_acc", a_cur > a_prev).persist()
            rejected = flagged.filter(~F.col("_acc"))
            accepted = flagged.filter(F.col("_acc")).drop(
                "_i", "_g", "_rmin", "_rmin_prev", "_acc", "_polls"
            )
            burned_new = rejected.select("parent_rank", "link_pos")
            burned = (
                burned_new if burned is None else burned.unionByName(burned_new)
            )
            # materialize + cut lineage: otherwise round r re-evaluates every
            # prior round's plan through the unioned anti-join chain
            burned = burned.localCheckpoint(eager=True)
            # continue only if some rejected child re-offers at a later occurrence
            live_next = occ.join(burned, ["parent_rank", "link_pos"], "left_anti")
            n_reoffer = live_next.join(
                rejected.select("child"), "child", "left_semi"
            ).count()
            for h in spent_handles:
                h.unpersist()
            spent_handles = [h1, h2, flagged]
            if n_reoffer == 0:
                break
        else:
            raise RuntimeError("queue-cap admission did not converge in 64 rounds")
        # accepted is bounded by the cap itself — materialize it, then release
        # every intermediate cache
        accepted = accepted.localCheckpoint(eager=True)
        for h in spent_handles + [occ, _polls_handle]:
            h.unpersist()
        return accepted

    # ---------------------------------------------------------------- driving
    def run(self, seeds: list[str] | None = None, max_waves: int = 100) -> dict:
        """Run (or resume) the crawl to completion. C13: resume = read the
        latest snapshot; pending rows re-form the next wave."""
        if seeds is not None:
            self.seed(seeds)
        last: dict = {}
        for _ in range(max_waves):
            last = self.run_wave()
            if last.get("done") or last.get("stopped_by_budget"):
                break
        return last
