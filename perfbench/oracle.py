"""Output checks, run outside the timed regions.

Crawl output is compared with ``crawler.simulator.simulate_crawl`` (the
single-threaded reference crawl) on the same web, seeds and budget. Tables
are read straight from the snapshot manifest with pyarrow, so the check does
not go through the storage layer it is checking.
"""

from __future__ import annotations

import dataclasses
import json
import os

import pyarrow.parquet as pq


def latest_manifest(state_dir: str) -> dict:
    snap_dir = os.path.join(state_dir, "_snapshots")
    snaps = sorted(f for f in os.listdir(snap_dir) if f.startswith("snap-"))
    with open(os.path.join(snap_dir, snaps[-1])) as fh:
        return json.load(fh)


def read_table(state_dir: str, table: str, columns: list[str]) -> dict[str, list]:
    """Columns of ``table`` as of the latest snapshot (empty when absent)."""
    out: dict[str, list] = {c: [] for c in columns}
    for rel in latest_manifest(state_dir)["tables"].get(table, []):
        t = pq.read_table(os.path.join(state_dir, rel), columns=columns)
        for c in columns:
            out[c].extend(t.column(c).to_pylist())
    return out


def order_twin(web):
    """A web that crawls exactly like ``web`` but with trivial payloads.

    Status, HTML and links are functions of the page and the link and
    timeout knobs only, so the crawl decisions are identical and the
    reference crawl costs no codec work."""
    return dataclasses.replace(
        web, img_min=8, img_max=8, jpeg_every=0, webp_every=0, ico_every=0
    )


def check_crawl(state_dir: str, sim) -> list[str]:
    """Committed order by (wave, rank), seen set and links per parent."""
    errors = []
    img = read_table(state_dir, "images", ["url", "wave", "rank"])
    got = [u for _, _, u in sorted(zip(img["wave"], img["rank"], img["url"]))]
    want = [c["url"] for c in sim.committed]
    if got != want:
        first = next((i for i, (a, b) in enumerate(zip(got, want)) if a != b), min(len(got), len(want)))
        errors.append(f"commit order differs at {first} ({len(got)} vs {len(want)} pages)")
    seen = set(read_table(state_dir, "seen", ["url"])["url"])
    if seen != sim.visited:
        errors.append(f"seen set differs ({len(seen)} vs {len(sim.visited)} urls)")
    links = read_table(state_dir, "links", ["parent_url", "child_url", "link_rank"])
    got_links: dict[str, list[tuple[int, str]]] = {}
    for p, c, r in zip(links["parent_url"], links["child_url"], links["link_rank"]):
        got_links.setdefault(p, []).append((r, c))
    got_by_parent = {p: [c for _, c in sorted(v)] for p, v in got_links.items()}
    want_by_parent: dict[str, list[str]] = {}
    for p, c in sim.links:
        want_by_parent.setdefault(p, []).append(c)
    if got_by_parent != want_by_parent:
        errors.append(f"links differ ({len(links['child_url'])} vs {len(sim.links)} rows)")
    return errors


PAYLOAD_COLUMNS = ["url", "caption", "phash", "w", "h", "fmt", "bytes"]


def check_payload_rows(web, rows: list[tuple]) -> list[str]:
    """Every row's caption, phash and (w, h, fmt) against the synthetic web,
    and decoded PSNR >= 40 dB against the page's ideal pixels.

    Lossy payloads are decoded to check their phash (it describes the stored
    payload); lossless ones must decode to the ideal pixels exactly. Runs in
    worker processes, so it takes plain tuples and returns strings."""
    from sher_look_spark.crawler import synth
    from sher_look_spark.crawler.imaging import decode_image, phash64, psnr

    errors = []
    for url, caption, ph, w, h, fmt, data in rows:
        page = synth.parse_page_url(web, url)
        ci, cj = synth.content_key(web, *page)
        ideal, want_fmt = synth.page_image_array(web, ci, cj)
        want_caption = synth.fetch(order_twin(web), url).caption
        if caption != want_caption:
            errors.append(f"{url}: caption {caption!r} != {want_caption!r}")
        if (w, h, fmt) != (ideal.shape[1], ideal.shape[0], want_fmt):
            errors.append(f"{url}: (w, h, fmt) {(w, h, fmt)} wrong")
            continue
        px = decode_image(data, fmt)
        if px.shape != ideal.shape:
            errors.append(f"{url}: decoded shape {px.shape} != {ideal.shape}")
            continue
        if ph != phash64(px):
            errors.append(f"{url}: phash does not describe the stored payload")
        if fmt in ("png", "ico") and not (px == ideal).all():
            errors.append(f"{url}: lossless payload is not the page image")
        elif psnr(ideal, px) < 40.0:
            errors.append(f"{url}: PSNR {psnr(ideal, px):.1f} dB < 40")
    return errors


def check_payload(state_dir: str, web, procs: int) -> list[str]:
    """check_payload_rows over every committed row, split across
    ``procs`` spawned worker processes."""
    import multiprocessing as mp

    cols = read_table(state_dir, "images", PAYLOAD_COLUMNS)
    rows = list(zip(*(cols[c] for c in PAYLOAD_COLUMNS)))
    chunks = [rows[i::procs] for i in range(procs)]
    with mp.get_context("spawn").Pool(procs) as pool:
        parts = pool.starmap(check_payload_rows, [(web, c) for c in chunks])
    return [e for part in parts for e in part]


def check_answer(results: list[dict], per_page: int, crawled: set[str]) -> list[str]:
    """One search answer: at most ``per_page`` rows, sorted by score
    descending then url, every url a crawled page."""
    errors = []
    if len(results) > per_page:
        errors.append(f"{len(results)} rows > resultsPerPage {per_page}")
    keys = [(-r["score"], r["url"]) for r in results]
    if keys != sorted(keys):
        errors.append("rows not sorted by score desc, url")
    stray = [r["url"] for r in results if r["url"] not in crawled]
    if stray:
        errors.append(f"uncrawled urls in answer: {stray[:3]}")
    return errors
