"""TF-IDF + PageRank numeric goldens ported from RankerTests.java."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def test_tfidf_reference_golden(spark):
    """RankerTests.java:26-122 — exact scores ±0.001."""
    import math

    from sher_look_spark.operators.ranking import tfidf_scores

    # postings equivalent to the mocked DocumentTerms
    rows = []
    rows += [(1, "title", "machine", p) for p in (5, 10)]
    rows += [(1, "body", "learning", 11)]
    rows += [(2, "body", "machine", 3)]
    rows += [(2, "header", "learning", 4)]
    rows += [(3, "body", "machine", 7)]
    postings = spark.createDataFrame(rows, "doc_id int, section string, word string, position int")
    sizes = spark.createDataFrame(
        [(1, 100), (2, 50), (3, 200)], "doc_id int, document_size int"
    )
    idf = spark.createDataFrame(
        [
            ("machine", math.log(1000.0 / 51)),
            ("learning", math.log(1000.0 / 21)),
        ],
        "word string, idf double",
    )
    got = {
        r.doc_id: r.tfidf
        for r in tfidf_scores(postings, sizes, idf, ["machine", "learning"]).collect()
    }
    assert got[1] == pytest.approx(0.1576, abs=1e-3)
    assert got[2] == pytest.approx(0.1754, abs=1e-3)
    assert got[3] == pytest.approx(0.0149, abs=1e-3)


def test_tfidf_does_not_depend_on_partitioning(spark):
    """The same postings over 1 and 8 partitions give bit-identical tf-idf
    per doc: each doc's (word, section) addends are summed in one fixed
    order, not in partition-merge order."""
    import math
    import random

    from sher_look_spark.operators.indexer import document_sizes
    from sher_look_spark.operators.ranking import tfidf_scores

    rnd = random.Random(11)
    words = [f"w{i}" for i in range(8)]
    rows = [
        (d, rnd.choice(["title", "header", "body"]), rnd.choice(words), p)
        for d in range(40)
        for p in range(rnd.randint(5, 60))
    ]
    postings = spark.createDataFrame(rows, "doc_id long, section string, word string, position int")
    sizes = document_sizes(postings)
    idf = spark.createDataFrame(
        [(w, math.log(40 / (i + 1) + 1) * (1 + rnd.random())) for i, w in enumerate(words)],
        "word string, idf double",
    )

    def scores(n: int) -> dict[int, float]:
        ranked = tfidf_scores(postings.repartition(n), sizes, idf, words)
        return {r.doc_id: r.tfidf for r in ranked.collect()}

    one = scores(1)
    assert len(one) == 40
    assert scores(8) == one


def _pr(spark, ids, links):
    from sher_look_spark.operators.ranking import pagerank

    verts = spark.createDataFrame([(i,) for i in ids], "id long")
    edges = spark.createDataFrame(links, "src long, dst long")
    return {r.id: r.rank for r in pagerank(spark, verts, edges).collect()}


def test_pagerank_cycle(spark):
    """RankerTests.java:126-156 — 3-cycle converges to 1/3 each."""
    scores = _pr(spark, [1, 2, 3], [(1, 2), (2, 3), (3, 1)])
    for i in (1, 2, 3):
        assert scores[i] == pytest.approx(1 / 3, abs=0.05)
    assert sum(scores.values()) == pytest.approx(1.0, abs=0.05)


def test_pagerank_dangling(spark):
    """RankerTests.java:159-175 — dangling node does not leak mass."""
    scores = _pr(spark, [1, 2], [(1, 2)])
    assert scores[2] > scores[1]
    assert sum(scores.values()) == pytest.approx(1.0, abs=0.05)


def test_pagerank_complex_graph(spark):
    """RankerTests.java:178-227 — 5-node graph, expected scores ±0.05."""
    links = [(1, 2), (1, 3), (1, 4), (2, 3), (3, 1), (3, 4), (5, 1), (5, 3)]
    scores = _pr(spark, [1, 2, 3, 4, 5], links)
    expected = {1: 0.2297, 2: 0.1415, 3: 0.2896, 4: 0.2600, 5: 0.0789}
    for i, want in expected.items():
        assert scores[i] == pytest.approx(want, abs=0.05), f"doc {i}"
    assert scores[3] > scores[4] > scores[1] > scores[2] > scores[5]
    assert sum(scores.values()) == pytest.approx(1.0, abs=0.05)


def py_pagerank(doc_ids, edges, d=0.85, tol=1e-5, iters=100):
    """Pure-Python port of computePageRank; returns (ranks, steps run)."""
    n = len(doc_ids)
    out_deg = {i: 0 for i in doc_ids}
    incoming = {i: [] for i in doc_ids}
    for s, t in edges:
        out_deg[s] += 1
        incoming[t].append(s)
    prev = {i: 1.0 / n for i in doc_ids}
    for step in range(1, iters + 1):
        dangling = sum(prev[i] for i in doc_ids if out_deg[i] == 0)
        cur = {}
        for i in doc_ids:
            in_sum = sum(prev[s] / out_deg[s] for s in incoming[i])
            cur[i] = (1 - d) / n + d * (in_sum + dangling / n)
        if max(abs(cur[i] - prev[i]) for i in doc_ids) < tol:
            return prev, step  # reference quirk: previous iterate
        prev = cur
    return prev, iters


def test_pagerank_matches_simulator_semantics(spark):
    """Exact parity with a pure-Python port of computePageRank (including the
    previous-iterate-on-convergence quirk) on a random-ish graph."""
    import hashlib

    ids = list(range(1, 13))
    links = []
    for s in ids:
        for t in ids:
            if s != t and hashlib.sha256(f"e{s}-{t}".encode()).digest()[0] % 5 == 0:
                links.append((s, t))

    want, _ = py_pagerank(ids, links)
    got = _pr(spark, ids, links)
    for i in ids:
        assert got[i] == pytest.approx(want[i], abs=1e-9), f"node {i}"


def test_pagerank_long_convergence_in_few_jobs(spark):
    """A 20-cycle with one chord converges only after 41 steps. The result
    is the reference's (previous iterate on convergence) and one pagerank
    call runs at most 3 Spark jobs, however many steps it takes."""
    ids = list(range(1, 21))
    links = [(i, i + 1) for i in range(1, 20)] + [(20, 1), (1, 10)]
    want, steps = py_pagerank(ids, links)
    assert steps > 25

    from sher_look_spark.operators.ranking import pagerank

    verts = spark.createDataFrame([(i,) for i in ids], "id long")
    edges = spark.createDataFrame(links, "src long, dst long")
    sc = spark.sparkContext
    sc.setJobGroup("pagerank-jobs", "one pagerank call")
    try:
        got = {r.id: r.rank for r in pagerank(spark, verts, edges).collect()}
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = sc.statusTracker().getJobIdsForGroup("pagerank-jobs")
    assert 0 < len(jobs) <= 3, jobs
    for i in ids:
        assert got[i] == pytest.approx(want[i], abs=1e-12), f"node {i}"


def test_pagerank_without_edges_is_uniform(spark):
    """A crawl whose pages link to no crawled page (crawl_payload's shape):
    every vertex is dangling and every rank is exactly 1/n."""
    n = 90
    assert set(_pr(spark, range(1, n + 1), []).values()) == {1.0 / n}


def test_phrase_match(spark):
    from sher_look_spark.operators.ranking import phrase_match

    rows = [
        # doc 1: "big data systems" contiguous in body
        (1, "body", "big", 0), (1, "body", "data", 1), (1, "body", "systems", 2),
        # doc 2: words present but not contiguous
        (2, "body", "big", 0), (2, "body", "x", 1), (2, "body", "data", 2),
        (2, "body", "systems", 5),
        # doc 3: contiguous but split across sections
        (3, "title", "big", 0), (3, "body", "data", 1), (3, "body", "systems", 2),
    ]
    postings = spark.createDataFrame(rows, "doc_id int, section string, word string, position int")
    got = sorted(r.doc_id for r in phrase_match(postings, ["big", "data", "systems"]).collect())
    assert got == [1]


def test_snippets_window_and_bold(spark):
    from sher_look_spark.operators.ranking import snippets

    words = [f"w{i}" for i in range(40)]
    words[20] = "hit"
    rows = [(1, "body", w, i) for i, w in enumerate(words)]
    postings = spark.createDataFrame(rows, "doc_id int, section string, word string, position int")
    snip = snippets(postings, ["hit"], window=15).collect()[0].snippet
    toks = snip.split(" ")
    # Ranker.java:601-609 appends a trailing "..." after the windowed words
    assert toks[0] == "w5" and toks[-2] == "w35" and toks[-1] == "..."
    assert "<b>hit</b>" in toks
    assert len(toks) == 32


def test_snippets_per_term_windows_merge(spark):
    """Two query terms whose ±15 windows do NOT overlap must each contribute a
    window (Ranker.java:548-566 collects the earliest position of EVERY term),
    merged in position order with a single trailing '...'."""
    from sher_look_spark.operators.ranking import snippets

    words = [f"w{i}" for i in range(100)]
    words[10] = "alpha"
    words[80] = "beta"
    rows = [(1, "body", w, i) for i, w in enumerate(words)]
    postings = spark.createDataFrame(rows, "doc_id int, section string, word string, position int")
    snip = snippets(postings, ["alpha", "beta"], window=15).collect()[0].snippet
    toks = snip.split(" ")
    # window 1: positions 0..25 (26 words), window 2: 65..95 (31 words), + "..."
    assert len(toks) == 26 + 31 + 1
    assert toks[0] == "w0" and toks[25] == "w25"
    assert toks[26] == "w65" and toks[-2] == "w95" and toks[-1] == "..."
    assert "<b>alpha</b>" in toks and "<b>beta</b>" in toks


def test_snippets_corpus_scale_hit_table_not_force_broadcast(spark):
    """Corpus-wide snippets (hits_bounded unset) must NOT hint a driver
    broadcast of the per-doc hit table — its size is O(matching docs), which
    a frequent term makes unbounded at 100x corpus scale. Only the tiny
    term-list join keeps an explicit hint; the hit join is left to AQE.
    The serve path (hits_bounded=True, <= per_page docs) keeps both hints.
    Values must be identical either way."""
    from sher_look_spark.operators.ranking import snippets

    rows = [
        (d, "body", w, i)
        for d in range(50)
        for i, w in enumerate(["hit"] + [f"w{d}_{i}" for i in range(5)])
    ]
    postings = spark.createDataFrame(
        rows, "doc_id int, section string, word string, position int"
    )
    free = snippets(postings, ["hit"])
    hinted = snippets(postings, ["hit"], hits_bounded=True)

    def n_hints(df):
        # analyzed plan: hints still explicit (the optimizer folds them into
        # the Join nodes, so optimizedPlan would show zero either way)
        plan = df._jdf.queryExecution().analyzed().toString()
        return plan.count("ResolvedHint")

    assert n_hints(free) == 1, "only the term list may be hint-broadcast"
    assert n_hints(hinted) == 2, "serve path forces the bounded hit broadcast"
    a = {r.doc_id: r.snippet for r in free.collect()}
    b = {r.doc_id: r.snippet for r in hinted.collect()}
    assert a == b and len(a) == 50


def test_snippets_description_fallback(spark):
    """Docs with no query-term hits fall back to the description
    (Ranker.java:588-590)."""
    from sher_look_spark.operators.ranking import snippets

    postings = spark.createDataFrame(
        [(1, "body", "hit", 0), (1, "body", "tail", 1)],
        "doc_id int, section string, word string, position int",
    )
    docs = spark.createDataFrame(
        [(1, "desc one"), (2, "desc two")], "doc_id int, description string"
    )
    out = {r.doc_id: r.snippet for r in snippets(postings, ["hit"], docs=docs).collect()}
    assert out[1] == "<b>hit</b> tail ..."
    assert out[2] == "desc two"
