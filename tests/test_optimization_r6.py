"""Round-6 optimization guards: the rewrites must not change results, and the
plan-shape wins they claim must hold (no token-rank shuffle, slim LSH band
exchange, fused tiny-graph PageRank, lazy child ranks)."""

from __future__ import annotations

import io
from contextlib import redirect_stdout

import pytest
from pyspark.sql import functions as F


def _explain(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_explode_tokens_plan_has_no_exchange(spark):
    """Kept-only positions now come from the filtered array itself — the
    per-document Exchange+Sort+Window is gone from the plan."""
    from sher_look_spark.functions.text import explode_tokens

    df = spark.createDataFrame([(1, "the quick spark merges")], ["doc_id", "text"])
    plan = _explain(explode_tokens(df))
    assert "Exchange" not in plan
    assert "Window" not in plan


def test_build_postings_plan_has_no_exchange(spark):
    from sher_look_spark.operators.indexer import build_postings

    df = spark.createDataFrame(
        [(1, "Spark Title", "the quick spark runs")], ["doc_id", "title", "text"]
    )
    plan = _explain(build_postings(df, sections=[("title", "title"), ("body", "text")]))
    assert "Exchange" not in plan
    assert "Window" not in plan


def test_build_postings_cross_section_positions(spark):
    """Positions run title -> body counting kept tokens only, and the section
    tag is the NAME (a 2-arg lambda would silently bind the array index)."""
    from sher_look_spark.operators.indexer import build_postings

    df = spark.createDataFrame(
        [(7, "Spark Merge", "the vector spark of merge")], ["doc_id", "title", "text"]
    )
    rows = (
        build_postings(df, sections=[("title", "title"), ("body", "text")])
        .orderBy("position")
        .collect()
    )
    assert [(r.section, r.word, r.position) for r in rows] == [
        ("title", "spark", 0),
        ("title", "merge", 1),
        ("body", "vector", 2),
        ("body", "spark", 3),
        ("body", "merge", 4),
    ]


def test_fused_pagerank_matches_fixed_loop_semantics(spark):
    """tol=0 on a 1-partition graph takes the fused numpy path; it must match
    the pure-Python fixed power iteration (the sql_q8 oracle formula) exactly,
    including dangling redistribution and edges to ids outside verts."""
    import hashlib

    from sher_look_spark.operators.ranking import pagerank

    ids = list(range(1, 16))
    links = []
    for s in ids:
        for t in ids:
            if s != t and hashlib.sha256(f"g{s}-{t}".encode()).digest()[0] % 6 == 0:
                links.append((s, t))
    links.append((3, 999))  # dst outside verts: counts toward out_degree only

    def py_fixed(doc_ids, edges, d=0.85, iters=8):
        n = len(doc_ids)
        out_deg = {i: 0 for i in doc_ids}
        incoming = {i: [] for i in doc_ids}
        for s, t in edges:
            if s in out_deg:
                out_deg[s] += 1
            if t in incoming and s in out_deg:
                incoming[t].append(s)
        prev = {i: 1.0 / n for i in doc_ids}
        for _ in range(iters):
            dangling = sum(prev[i] for i in doc_ids if out_deg[i] == 0)
            prev = {
                i: (1 - d) / n
                + d * (sum(prev[s] / out_deg[s] for s in incoming[i]) + dangling / n)
                for i in doc_ids
            }
        return prev

    verts = spark.createDataFrame([(i,) for i in ids], "id long")
    edges = spark.createDataFrame(links, "src long, dst long")
    got = {r.id: r.rank for r in pagerank(spark, verts, edges, tol=0.0, max_iter=8).collect()}
    want = py_fixed(ids, links)
    assert set(got) == set(want)
    for i in ids:
        assert got[i] == pytest.approx(want[i], abs=1e-12), f"node {i}"


def test_minhash_band_exchange_is_slim(spark):
    """VERDICT r5 item 3: the band self-join must shuffle (id, band, bucket)
    only — no Exchange in the pair plan may carry a signature column."""
    from sher_look_spark.operators.dedup import minhash_lsh_pairs, minhash_signatures

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta epsilon zeta doc{i} eta theta") for i in range(8)],
        ["doc_id", "text"],
    )
    sigs = minhash_signatures(docs, num_hashes=8)
    plan = _explain(minhash_lsh_pairs(sigs, bands=4))
    blocks = plan.split("\n(")
    offending = [
        b for b in blocks
        if b.splitlines()[0].endswith("Exchange")
        and "bucket" in b  # a band-join exchange ...
        and ("signature" in b or "sig_a" in b or "sig_b" in b)  # ... carrying signatures
    ]
    assert offending == [], f"band exchange still carries signatures: {offending[:1]}"


def test_minhash_lsh_pairs_results_unchanged(spark):
    """Slim band join + signature re-attach returns the same pairs/estimates
    as a direct all-pairs signature comparison restricted to band collisions."""
    from sher_look_spark.operators.dedup import minhash_lsh_pairs, minhash_signatures

    rows = [(i, "common shingle text base words here for everyone") for i in range(6)]
    rows += [(100 + i, f"totally different content item {i} unique tokens") for i in range(3)]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    sigs = minhash_signatures(docs, num_hashes=16).persist()
    got = {
        (r.id_a, r.id_b): r.est_jaccard
        for r in minhash_lsh_pairs(sigs, bands=8).collect()
    }
    sig_map = {r.doc_id: r.signature for r in sigs.collect()}
    want = {}
    idlist = sorted(sig_map)
    for i, a in enumerate(idlist):
        for b in idlist[i + 1:]:
            sa, sb = sig_map[a], sig_map[b]
            bands, rpb = 8, len(sa) // 8
            if any(sa[k * rpb:(k + 1) * rpb] == sb[k * rpb:(k + 1) * rpb] for k in range(bands)):
                want[(a, b)] = sum(x == y for x, y in zip(sa, sb)) / len(sa)
    sigs.unpersist()
    assert got == pytest.approx(want)


def test_embedding_neardup_dim_param_matches_inferred(spark):
    from sher_look_spark.operators.similarity import embedding_neardup_pairs

    import numpy as np

    rng = np.random.Generator(np.random.PCG64(7))
    emb = spark.createDataFrame(
        [(i, [float(x) for x in rng.standard_normal(8)]) for i in range(20)],
        "vec_id long, embedding array<double>",
    )
    a = sorted(
        (r.id_a, r.id_b, round(r.cosine, 9))
        for r in embedding_neardup_pairs(emb, threshold=0.2, n_planes=2, n_tables=8).collect()
    )
    b = sorted(
        (r.id_a, r.id_b, round(r.cosine, 9))
        for r in embedding_neardup_pairs(
            emb, threshold=0.2, n_planes=2, n_tables=8, dim=8
        ).collect()
    )
    assert a == b and len(a) > 0


def test_jvm_hash_columns_match_python(spark):
    """url_hash64_col / sha256_b64url_col (JVM expressions — no
    ArrowEvalPython stage in the wave plan) are bit-identical to the Python
    functions the simulator and the fetch mapper use."""
    from sher_look_spark.functions.hashing import (
        sha256_b64url,
        sha256_b64url_col,
        url_hash64,
        url_hash64_col,
    )

    urls = [
        "http://example.com/",
        "http://h0.example.com/page/123?q=a&b=2",
        "",
        "héllo/ünïcode☃",
        "x" * 300,
        None,
    ]
    df = spark.createDataFrame([(u,) for u in urls], "u string")
    rows = df.select(
        "u",
        url_hash64_col("u").alias("h"),
        sha256_b64url_col("u").alias("b"),
    ).collect()
    for r in rows:
        if r.u is None:
            assert r.h is None and r.b is None
        else:
            assert r.h == url_hash64(r.u)
            assert r.b == sha256_b64url(r.u)


def test_tfidf_onepass_matches_two_table_scorer(spark):
    """tfidf_scores_onepass (one per-doc aggregation pass) must match the
    freqs/sizes/idf join formulation on a multi-section corpus, including
    missing-idf terms and both missing-idf defaults, to fp-association
    tolerance (weighted freqs are exact; only the final <=3-term sum may
    reassociate)."""
    import random

    from sher_look_spark.operators.indexer import document_sizes, idf_table
    from sher_look_spark.operators.ranking import tfidf_scores, tfidf_scores_onepass

    random.seed(7)
    words = ["spark", "merge", "vector", "alpha", "beta"]
    secs = ["title", "header", "body"]
    rows = [
        (d, random.choice(words), random.choice(secs), p)
        for d in range(30)
        for p in range(random.randint(3, 25))
    ]
    toks = spark.createDataFrame(rows, "doc_id int, word string, section string, position int")
    sizes = document_sizes(toks)
    idf = idf_table(toks.filter(F.col("word").isin(["spark", "merge"])), n_docs=30)
    terms = ["spark", "merge", "zzz-missing"]
    for dflt in (0.0, 1.0):
        old = {r.doc_id: r.tfidf for r in tfidf_scores(toks, sizes, idf, terms, missing_idf_default=dflt).collect()}
        new = {r.doc_id: r.tfidf for r in tfidf_scores_onepass(toks, idf, terms, missing_idf_default=dflt).collect()}
        assert set(old) == set(new)
        for k in old:
            assert abs(old[k] - new[k]) < 1e-12


def test_tfidf_onepass_plan_single_doc_exchange(spark):
    """The one-pass scorer's claim: exactly one Exchange carries doc-level
    rows (the per-doc aggregation — no sizes join, no second postings scan);
    the only other shuffle is the SinglePartition fold of the <=|terms|-row
    idf table feeding the broadcast."""
    import re

    from sher_look_spark.operators.ranking import tfidf_scores_onepass

    toks = spark.createDataFrame(
        [(1, "spark", "body", 0), (1, "merge", "body", 1), (2, "vector", "body", 0)],
        "doc_id int, word string, section string, position int",
    )
    idf = spark.createDataFrame([("spark", 1.1)], "word string, idf double")
    plan = _explain(tfidf_scores_onepass(toks, idf, ["spark", "merge"]))
    doc_shuffles = re.findall(r"hashpartitioning\(doc_id", plan)
    assert len(doc_shuffles) == 1, plan
    n_exchange = len(re.findall(r"\(\d+\) Exchange\b", plan))
    n_single = len(re.findall(r"Arguments: SinglePartition", plan))
    assert n_exchange - n_single == 1, plan
