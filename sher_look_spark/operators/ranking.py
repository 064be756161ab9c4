"""Query/rank tier (SURVEY §2.3 Q1-Q11) — TF-IDF, PageRank, phrase, snippets.

Reference: /root/reference/src/main/java/com/sherlook/search/ranker/Ranker.java.
Numeric goldens ported from RankerTests.java (TF-IDF ±0.001, PageRank graphs).
PageRank has one implementation for both the converging and the fixed-step
mode: the whole power loop in one numpy task (:func:`pagerank`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

SECTION_WEIGHTS = {"title": 2.0, "header": 1.5, "body": 1.0}  # Ranker.java:22-23
DAMPING = 0.85          # Ranker.java:24
CONVERGENCE = 1e-5      # Ranker.java:25
MAX_ITERATIONS = 100    # Ranker.java:26
TFIDF_WEIGHT = 0.7      # Ranker.java:27
PAGERANK_WEIGHT = 0.3   # Ranker.java:28
SNIPPET_WINDOW = 15     # Ranker.java:548-566


def section_weight_col(section_col: str = "section"):
    c = F.col(section_col)
    expr = F.lit(1.0)  # SECTION_WEIGHTS.getOrDefault(section, 1.0)
    for name, wgt in SECTION_WEIGHTS.items():
        expr = F.when(c == name, F.lit(wgt)).otherwise(expr)
    return expr


def tfidf_scores(
    postings: DataFrame,
    doc_sizes: DataFrame,
    idf: DataFrame,
    query_terms: list[str],
    doc_col: str = "doc_id",
    missing_idf_default: float = 0.0,
) -> DataFrame:
    """Q4: score = Σ_terms Σ_sections (freq/doc_size)·weight(section)·idf(term).

    ``missing_idf_default``: 0.0 for keyword mode (Ranker.java:89), 1.0 for
    phrase mode (Ranker.java:319).
    """
    terms = postings.sparkSession.createDataFrame([(t,) for t in query_terms], "word string")
    hits = postings.join(F.broadcast(terms), "word")
    freqs = hits.groupBy(doc_col, "word", "section").agg(F.count(F.lit(1)).alias("freq"))
    scored = (
        freqs.join(doc_sizes, doc_col)
        .join(F.broadcast(idf.select("word", "idf")), "word", "left")
        .withColumn("idf", F.coalesce(F.col("idf"), F.lit(missing_idf_default)))
        .withColumn(
            "contrib",
            F.col("freq") / F.col("document_size") * section_weight_col() * F.col("idf"),
        )
    )
    # each doc's addends summed in ascending order: a plain F.sum adds them
    # in partition-merge order, so the low bits of a score (and with them
    # ties and page order) would depend on the partitioning
    return scored.groupBy(doc_col).agg(
        F.aggregate(
            F.array_sort(F.collect_list("contrib")), F.lit(0.0), lambda a, x: a + x
        ).alias("tfidf")
    )


def tfidf_scores_onepass(
    postings: DataFrame,
    idf: DataFrame,
    query_terms: list[str],
    doc_col: str = "doc_id",
    missing_idf_default: float = 0.0,
) -> DataFrame:
    """Q4 scorer with the same formula as :func:`tfidf_scores` but ONE pass
    over the postings and ONE exchange (guide §2.3 "aggregate before you
    shuffle"): document_size and the per-term section-weighted frequencies
    are conditional aggregates of a single per-doc groupBy — the previous
    shape scanned the postings twice (hits filter + doc-size count) and
    shuffled three times (freqs agg, sizes join, final per-doc sum).

    Equivalence notes (pinned by tests/test_ranking.py):
    * weighted freq Σ_tokens weight(section) is EXACT in fp (counts times
      {1.0, 1.5, 2.0}), so merging the per-(word, section) dimension into
      the agg loses nothing;
    * a doc scores iff it has ≥1 query-term posting (any weighted freq > 0),
      the inner freqs⋈sizes semantics;
    * terms with no idf row take ``missing_idf_default``; a zero-frequency
      term contributes +0.0 either way.

    Implied contract difference from tfidf_scores: doc size IS the per-doc
    posting count of ``postings`` (true for every query-tier caller, where
    sizes = document_sizes(same frame)); webindex keeps the two-table form
    because its sizes come from the incremental doc_sizes table."""
    w = section_weight_col()
    aggs = [F.count(F.lit(1)).alias("_docsize")]
    for i, t in enumerate(query_terms):
        aggs.append(
            F.sum(F.when(F.col("word") == t, w).otherwise(F.lit(0.0))).alias(f"_wf{i}")
        )
    per_doc = postings.groupBy(doc_col).agg(*aggs)
    wf_cols = [F.col(f"_wf{i}") for i in range(len(query_terms))]
    hit = per_doc.filter(F.greatest(*wf_cols, F.lit(0.0)) > 0)
    # per-term idf as a 1-row frame (agg over 0 groups always yields one
    # row, so an empty idf table degrades to all-default, matching the
    # left-join semantics of tfidf_scores)
    ivals = idf.agg(
        *[
            F.first(F.when(F.col("word") == t, F.col("idf")), ignorenulls=True).alias(
                f"_idf{i}"
            )
            for i, t in enumerate(query_terms)
        ]
    )
    scored = hit.crossJoin(F.broadcast(ivals))
    contrib = None
    for i in range(len(query_terms)):
        c = (
            F.col(f"_wf{i}")
            / F.col("_docsize")
            * F.coalesce(F.col(f"_idf{i}"), F.lit(missing_idf_default))
        )
        contrib = c if contrib is None else contrib + c
    return scored.select(doc_col, contrib.alias("tfidf"))


def pagerank(
    spark: SparkSession,
    vertices: DataFrame,
    edges: DataFrame,
    damping: float = DAMPING,
    tol: float = CONVERGENCE,
    max_iter: int = MAX_ITERATIONS,
) -> DataFrame:
    """Q8: power iteration with uniform dangling redistribution, with the
    reference's exact semantics (Ranker.java:128-187).

    vertices: (id), every node, linked or not, ids distinct; edges: (src,
    dst). Returns (id, rank), unevaluated: its one action runs the loop.

    The whole loop runs in ONE Python task: the bare vertex and edge tables
    cogroup on a constant key, and out degrees, the dangling set and every
    step are numpy array ops. An edge counts toward its src's out degree
    even when its dst is not a vertex; only edges with both ends in
    ``vertices`` carry rank.

    ``tol > 0`` (the reference's mode, tol=1e-5 and at most 100 steps,
    Ranker.java:24-26): each step's max |cur - prev| is checked, and at the
    first step below ``tol`` the iterate that ENTERED that step is returned
    (the reference breaks before its swap at :178). ``tol <= 0`` runs
    exactly ``max_iter`` steps (the fixed-step q8 oracle). The task holds
    the graph in one worker's memory; SCALE.md has the measured bound.
    """
    import pandas as pd

    def power(_key, vpdf: pd.DataFrame, epdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        ids = vpdf["id"].to_numpy()
        n = len(ids)
        if n == 0:
            return pd.DataFrame({"id": ids, "rank": np.zeros(0)})
        index = pd.Index(ids)  # -1 for an id outside the vertex set
        src = index.get_indexer(epdf["src"])
        dst = index.get_indexer(epdf["dst"])
        outd = np.bincount(src[src >= 0], minlength=n).astype("float64")
        keep = (src >= 0) & (dst >= 0)
        src, dst = src[keep], dst[keep]
        dangling = outd == 0.0
        base = (1.0 - damping) / n
        prev = np.full(n, 1.0 / n)
        for _ in range(max_iter):
            dm = float(prev[dangling].sum())
            in_sum = np.bincount(dst, weights=prev[src] / outd[src], minlength=n)
            cur = base + damping * (in_sum + dm / n)
            if tol > 0.0 and float(np.abs(cur - prev).max()) < tol:
                break
            prev = cur
        return pd.DataFrame({"id": ids, "rank": prev})

    return (
        vertices.select("id")
        .groupBy(F.lit(0).alias("_g"))
        .cogroup(edges.select("src", "dst").groupBy(F.lit(0).alias("_g")))
        .applyInPandas(power, "id long, rank double")
    )


def blend_scores(tfidf: DataFrame, pr: DataFrame, doc_col: str = "doc_id") -> DataFrame:
    """Q9: final = 0.7*tfidf + 0.3*pagerank, sorted desc."""
    return (
        tfidf.join(pr.withColumnRenamed("id", doc_col), doc_col, "left")
        .withColumn(
            "final_score",
            F.lit(TFIDF_WEIGHT) * F.col("tfidf")
            + F.lit(PAGERANK_WEIGHT) * F.coalesce(F.col("rank"), F.lit(0.0)),
        )
        .orderBy(F.desc("final_score"))
    )


def phrase_match(
    postings: DataFrame, phrase_terms: list[str], doc_col: str = "doc_id"
) -> DataFrame:
    """Q5: docs where, within one section, term_i occurs at start+i for some
    start position of term_0 (Ranker.java:252-312).

    Positions self-join formulation: posting rows for term_i shifted by -i
    must all meet at the same (doc, section, start) — an equi-join chain that
    Catalyst executes as hash joins (no UDF).
    """
    if not phrase_terms:
        return postings.select(doc_col).limit(0)
    parts = []
    for i, t in enumerate(phrase_terms):
        parts.append(
            postings.filter(F.col("word") == t).select(
                doc_col, "section", (F.col("position") - F.lit(i)).alias("start"), F.lit(i).alias("ti")
            )
        )
    joined = parts[0].select(doc_col, "section", "start")
    for p in parts[1:]:
        joined = joined.join(p.select(doc_col, "section", "start"), [doc_col, "section", "start"])
    return joined.select(doc_col).distinct()


def paginate(
    ranked: DataFrame, page: int, per_page: int = 10, order: list | None = None
) -> DataFrame:
    """Q10: offset/limit slice of the ranked list (Ranker.java:623-637).

    Scale-safe plan: ``orderBy(...).limit(offset+per_page)`` compiles to
    TakeOrderedAndProject (per-partition top-K + driver merge — no global
    sort, no full-data single-reducer window). The offset slice then ranks
    only those ``offset+per_page`` rows — a constant bounded by the
    pagination depth a user can request, independent of data size.
    """
    order = order or [F.desc("final_score")]
    start = (page - 1) * per_page
    top = ranked.orderBy(*order).limit(start + per_page)
    w = Window.orderBy(*order)
    return (
        top.withColumn("pos", F.row_number().over(w))
        .filter(F.col("pos") > start)
        .drop("pos")
    )


def snippets(
    postings: DataFrame,
    hit_terms: list[str],
    window: int = SNIPPET_WINDOW,
    doc_col: str = "doc_id",
    docs: DataFrame | None = None,
    desc_col: str = "description",
    hits_bounded: bool = False,
) -> DataFrame:
    """Q11 with the reference's exact semantics (Ranker.java:548-611 +
    DatabaseHelper.getWordsAroundPositions :591-643):

    * the earliest position of EACH query term per doc (min across sections)
      contributes its own ±window range (:548-566);
    * ranges are merged per doc as a position->word map (overlaps dedup);
    * words rebuilt in position order, query terms wrapped in <b>, and a
      trailing `` ...`` appended (:601-609);
    * docs with no hits fall back to their description (:588-590) when a
      ``docs(doc_col, desc_col)`` frame is supplied.

    Plan shape: per-(doc, term) hit table joined back with a range predicate
    on the postings scan, dedup on (doc, position), ordered collect per doc.

    The hit table is O(matching docs x terms): unbounded for a corpus-wide
    call with a frequent term, but <= page_size x terms on the serve path
    (which pre-filters postings to one result page). ``hits_bounded=True``
    asserts the caller's bound and forces a broadcast hash join (the serve
    path's plan); the default leaves the strategy to AQE, which broadcasts
    small hit tables at runtime and sort-merges big ones — a frequent term
    at 100x corpus scale must not ship the hit table through the driver.
    """
    terms = postings.sparkSession.createDataFrame([(t,) for t in hit_terms], "word string")
    hits = (
        postings.join(F.broadcast(terms), "word")
        .groupBy(doc_col, "word")
        .agg(F.min("position").alias("hit"))
        .select(doc_col, "hit")
    )
    ctx = (
        postings.join(F.broadcast(hits) if hits_bounded else hits, doc_col)
        .filter(
            (F.col("position") >= F.greatest(F.lit(0), F.col("hit") - window))
            & (F.col("position") <= F.col("hit") + window)
        )
        .select(doc_col, "position", "word")
        .dropDuplicates([doc_col, "position"])
    )
    decorated = ctx.withColumn(
        "piece",
        F.when(F.col("word").isin(hit_terms), F.concat(F.lit("<b>"), F.col("word"), F.lit("</b>"))).otherwise(
            F.col("word")
        ),
    )
    snips = decorated.groupBy(doc_col).agg(
        F.concat(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("position", "piece"))), lambda s: s["piece"]
                ),
            ),
            F.lit(" ..."),
        ).alias("snippet")
    )
    if docs is None:
        return snips
    return docs.select(doc_col, F.col(desc_col).alias("_desc")).join(snips, doc_col, "left").select(
        doc_col, F.coalesce("snippet", F.col("_desc")).alias("snippet")
    )
