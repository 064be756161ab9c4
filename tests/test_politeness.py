"""C7 time-budget politeness: per-host crawl-delay slot windows.

The reference enforces 1 s per fetch per thread (CrawlTask.java:182); the
wave engine models it as a per-host slot budget per wave quantum
(floor(wave_budget_s / crawl_delay_s) fetches/host/wave, each stamped with
its scheduled_slot offset). Overflow candidates are deferred to the next
wave — politeness must never DROP work, so the final committed set equals
the unconstrained reference simulation's."""

from __future__ import annotations

from urllib.parse import urlsplit

from sher_look_spark.crawler import synth
from sher_look_spark.crawler.engine import CrawlConfig, CrawlEngine
from sher_look_spark.crawler.simulator import simulate_crawl

# no timeouts / dup-content / robots / junk links: every polled winner
# commits, so per-host committed slots are dense from 0 — and crawl order
# cannot change the reachable set, so politeness reordering keeps set
# equality exact
WEB = synth.SynthWebConfig(
    n_hosts=4, pages_per_host=6, seed=55, timeout_pct=0, dup_every=0,
    robots_every=0, junk_pct=0,
)
SEEDS = synth.seed_urls(WEB, 4)


def test_crawl_delay_budget_caps_hosts_per_wave(spark, tmp_path):
    eng = CrawlEngine(
        spark,
        str(tmp_path / "polite"),
        CrawlConfig(
            max_pages=10_000, max_depth=8, crawl_delay_s=1.0, wave_budget_s=3.0, web=WEB
        ),
    )
    eng.run(SEEDS, max_waves=80)
    rows = eng.store.read(spark, "images").select("url", "wave", "scheduled_slot").collect()
    per_wave_host: dict[tuple, list] = {}
    for r in rows:
        per_wave_host.setdefault((r.wave, urlsplit(r.url).hostname), []).append(
            r.scheduled_slot
        )
    for key, slots in per_wave_host.items():
        # at most floor(3.0/1.0) = 3 fetches per host per wave quantum ...
        assert len(slots) <= 3, key
        # ... scheduled at distinct delay-spaced offsets within the quantum
        # (commits may skip a slot: a polled URL that 404s consumed it)
        assert len(set(slots)) == len(slots), key
        assert all(s in (0.0, 1.0, 2.0) for s in slots), key
    # deferral, not drop: the committed SET equals the unconstrained
    # single-threaded reference simulation (order differs by design)
    sim = simulate_crawl(WEB, SEEDS, max_pages=10_000, max_depth=8)
    assert {r.url for r in rows} == {c["url"] for c in sim.committed}


def test_deferral_with_budget_stop_and_pretrim(spark, tmp_path):
    """Deferral combined with budget stops + pre-trim (the interaction the
    round-2 advice flagged): deferred rows past the stop rank must not enter
    pending twice, the depth histogram must stay consistent with the actual
    pending rows (else rows strand uncrawled or the crawl double-commits),
    and the budget must cut exactly at max_pages."""
    cfg = CrawlConfig(
        max_pages=13, max_depth=8, crawl_delay_s=1.0, wave_budget_s=2.0, web=WEB
    )
    eng = CrawlEngine(spark, str(tmp_path / "mix"), cfg)
    out = eng.run(SEEDS, max_waves=80)
    committed = eng.store.read(spark, "images").select("url", "rank").collect()
    assert len(committed) == 13
    assert len({r.url for r in committed}) == 13
    # every snapshot's histogram must equal its actual pending table, with no
    # duplicated (url, depth) entries (the double-insert bug drifts these)
    store = eng.store
    for f in sorted(
        __import__("os").listdir(store.snap_dir)
    ):
        if not f.startswith("snap-"):
            continue
        import json as _json

        with open(__import__("os").path.join(store.snap_dir, f)) as fh:
            doc = _json.load(fh)
        snap = store.latest().__class__(doc["snapshot_id"], doc["tables"], doc["state"])
        pend = store.read(spark, "pending", snap)
        if pend is None:
            continue
        rows = pend.collect()
        hist = {int(k): v for k, v in doc["state"].get("pending_depths", {}).items()}
        actual: dict[int, int] = {}
        for r in rows:
            actual[r.depth] = actual.get(r.depth, 0) + 1
        assert {d: n for d, n in hist.items() if n > 0} == actual, f
        pairs = [(r.url, r.depth) for r in rows]
        assert len(pairs) == len(set(pairs)), f"duplicate pending rows in {f}"
    # all committed urls are genuinely reachable pages of the synthetic web
    sim = simulate_crawl(WEB, SEEDS, max_pages=10_000, max_depth=8)
    sim_urls = {c["url"] for c in sim.committed}
    assert {r.url for r in committed} <= sim_urls


def test_no_politeness_leaves_slot_null(spark, tmp_path):
    eng = CrawlEngine(
        spark,
        str(tmp_path / "fid"),
        CrawlConfig(max_pages=10_000, max_depth=1, web=WEB),
    )
    eng.run(SEEDS)
    rows = eng.store.read(spark, "images").select("scheduled_slot", "crawl_time").collect()
    assert rows and all(r.scheduled_slot is None for r in rows)
    assert all(r.crawl_time is not None for r in rows)
