"""North-rule fidelity: the Spark wave engine must reproduce the reference
crawler's behavior exactly — BFS crawl order, final URL-seen set, links table,
robots compliance, payload bytes — with the single-threaded simulator
(crawler/simulator.py, a direct semantic port of CrawlTask/PersistentQueue)
as the oracle."""

from __future__ import annotations

import numpy as np
import pytest

from sher_look_spark.crawler import synth
from sher_look_spark.crawler.engine import CrawlConfig, CrawlEngine
from sher_look_spark.crawler.imaging import decode_image, psnr
from sher_look_spark.crawler.simulator import simulate_crawl

WEB = synth.SynthWebConfig(
    n_hosts=8, pages_per_host=14, seed=1234, timeout_pct=5, dup_every=6, robots_every=3
)
SEEDS = synth.seed_urls(WEB, 6)


@pytest.fixture(scope="module")
def sim():
    return simulate_crawl(WEB, SEEDS, max_pages=10_000, max_depth=3)


@pytest.fixture(scope="module")
def engine_result(spark, tmp_path_factory, sim):
    state_dir = str(tmp_path_factory.mktemp("crawl_state"))
    eng = CrawlEngine(spark, state_dir, CrawlConfig(max_pages=10_000, max_depth=3, web=WEB))
    eng.run(SEEDS)
    return eng


def _committed_in_order(eng):
    imgs = eng.store.read(eng.spark, "images")
    return imgs.orderBy("wave", "rank").collect()


def test_crawl_order_equality(sim, engine_result):
    got = [r.url for r in _committed_in_order(engine_result)]
    want = [c["url"] for c in sim.committed]
    assert got == want


def test_seen_set_equality(sim, engine_result):
    eng = engine_result
    seen = {r.url for r in eng.store.read(eng.spark, "seen").collect()}
    assert seen == sim.visited


def test_links_table_equality(sim, engine_result):
    eng = engine_result
    rows = eng.store.read(eng.spark, "links").orderBy("wave", "parent_url", "link_rank").collect()
    got = [(r.parent_url, r.child_url, r.link_rank) for r in rows]
    want_by_parent: dict[str, list[str]] = {}
    for p, c in sim.links:
        want_by_parent.setdefault(p, []).append(c)
    want = []
    for parent in sorted(want_by_parent):  # engine rows sorted per wave/parent
        for i, c in enumerate(want_by_parent[parent]):
            want.append((parent, c, i))
    # compare as per-parent ordered lists (wave grouping is engine metadata)
    got_by_parent: dict[str, list[str]] = {}
    for p, c, i in got:
        got_by_parent.setdefault(p, []).append(c)
    assert got_by_parent == want_by_parent


def test_payload_fidelity(sim, engine_result):
    """input_hint invariant: decoded-pixel PSNR >= 40 dB + caption equality."""
    eng = engine_result
    rows = {r.url: r for r in _committed_in_order(eng)}
    assert len(rows) == len(sim.committed)
    for c in sim.committed:
        r = rows[c["url"]]
        assert r.caption == c["caption"], c["url"]
        assert r.phash == c["phash"]
        assert (r.w, r.h, r.fmt) == (c["w"], c["h"], c["fmt"])
        ref_px = decode_image(c["image"], c["fmt"])
        got_px = decode_image(bytes(r.bytes), r.fmt)
        assert psnr(ref_px, got_px) >= 40.0


def test_robots_compliance(sim, engine_result):
    """No committed URL may violate its host's robots rules."""
    from sher_look_spark.functions.robots import is_allowed_url, parse_robots_txt
    from urllib.parse import urlsplit

    eng = engine_result
    rules = {}
    for i in range(WEB.n_hosts):
        body = synth.robots_txt(WEB, i)
        if body:
            rules[f"http://{synth.host_name(WEB, i)}"] = parse_robots_txt(body)
    blocked = [
        r.url for r in _committed_in_order(eng) if not is_allowed_url(r.url, rules)
    ]
    assert blocked == []
    # and the rules actually bit: some visited URL must have been robots-skipped
    committed_urls = {r.url for r in _committed_in_order(eng)}
    skipped = [
        u for u in sim.visited
        if u not in committed_urls and not is_allowed_url(u, rules)
    ]
    assert skipped, "synthetic web should produce robots-blocked candidates"


def test_max_pages_budget_cuts_in_fifo_order(spark, tmp_path, sim):
    eng = CrawlEngine(
        spark, str(tmp_path / "budget"), CrawlConfig(max_pages=9, max_depth=3, web=WEB)
    )
    eng.run(SEEDS)
    got = [r.url for r in _committed_in_order(eng)]
    assert got == [c["url"] for c in sim.committed[:9]]
    sim_budget = simulate_crawl(WEB, SEEDS, max_pages=9, max_depth=3)
    seen = {r.url for r in eng.store.read(spark, "seen").collect()}
    assert seen == sim_budget.visited


def _rewrite_seen_salted(spark, store, n_salts=32):
    """Turn the latest snapshot into the layout older engines wrote: every
    `seen` dir hive-partitioned by ``salt = pmod(url_hash, n_salts)`` (the
    column comes back on read), a `seen_bloom` table of per-salt bitmaps, and
    the `bloom` / `seen_rows_ub` state keys."""
    import os

    from pyspark.sql import functions as F

    snap = store.latest()
    seen = store.read(spark, "seen", snap)
    seen_rel = "seen/wave-00000-salted"
    (
        seen.withColumn("salt", F.pmod("url_hash", F.lit(n_salts)).cast("int"))
        .repartition("salt")
        .write.partitionBy("salt")
        .parquet(os.path.join(store.root, seen_rel))
    )
    bloom_rel = "seen_bloom/wave-00000-salted"
    spark.createDataFrame(
        [(s, bytes(64)) for s in range(n_salts)], "salt int, bitmap binary"
    ).write.parquet(os.path.join(store.root, bloom_rel))
    state = dict(snap.state)
    state["bloom"] = {"salts": n_salts, "bits": 512}
    state["seen_rows_ub"] = seen.count()
    store.commit(
        replaces={"seen": [seen_rel], "seen_bloom": [bloom_rel]}, state=state
    )


def test_resume_from_snapshot(spark, tmp_path, sim, engine_result):
    """C13: kill between waves -> resume -> identical final state, both from
    this engine's own snapshots and from a state dir whose `seen` table is
    still in the older salt-partitioned layout."""
    cfg = CrawlConfig(max_pages=10_000, max_depth=3, web=WEB)
    state_dir = str(tmp_path / "resume")
    eng1 = CrawlEngine(spark, state_dir, cfg)
    eng1.seed(SEEDS)
    eng1.run_wave()
    eng1.run_wave()
    salted_dir = str(tmp_path / "resume-salted")
    eng1 = CrawlEngine(spark, salted_dir, cfg)
    eng1.seed(SEEDS)
    eng1.run_wave()
    _rewrite_seen_salted(spark, eng1.store)
    assert "salt" in eng1.store.read(spark, "seen").columns
    for d in (state_dir, salted_dir):
        # "crash": drop the engine, rebuild from the snapshot store alone
        eng2 = CrawlEngine(spark, d, cfg)
        eng2.run()
        got = [r.url for r in _committed_in_order(eng2)]
        assert got == [c["url"] for c in sim.committed], d
        seen = {r.url for r in eng2.store.read(spark, "seen").collect()}
        assert seen == sim.visited, d
        assert "bloom" not in eng2.store.latest().state
