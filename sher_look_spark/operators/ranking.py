"""Query/rank tier (SURVEY §2.3 Q1-Q11) — TF-IDF, PageRank, phrase, snippets.

Reference: /root/reference/src/main/java/com/sherlook/search/ranker/Ranker.java.
Numeric goldens ported from RankerTests.java (TF-IDF ±0.001, PageRank graphs).
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

# pagerank() tunes session-global conf (shuffle partitions, AQE) around its
# loop with save/restore. The serve tier shares one SparkSession across HTTP
# threads, so two concurrent cold-path pageranks could interleave
# save/mutate/restore and clobber the session settings — serialize them.
_PAGERANK_CONF_LOCK = threading.Lock()

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
    checkpoint_every: int = 5,
) -> DataFrame:
    """Q8: power iteration with uniform dangling redistribution — exact
    reference semantics (Ranker.java:128-187) including the quirk that on
    convergence the PREVIOUS iterate is returned (the loop breaks before the
    swap at :178).

    vertices: (id) — every node, linked or not; edges: (src, dst).
    Returns (id, rank). Iterative DataFrame job; lineage cut by
    localCheckpoint every ``checkpoint_every`` iterations so plans stay flat
    at cluster scale.

    ``tol <= 0`` selects FIXED-ITERATION mode with ZERO per-iteration driver
    actions: the convergence check is dead code, so the dangling mass is
    computed as a 1-row aggregate of the previous iterate cross-joined
    (broadcast) into the next — exactly the shape of the fixed-step oracle
    CTE chain in queries.sql_q8 — and all ``max_iter`` steps compile into a
    handful of jobs (one per lineage checkpoint) instead of one per
    iteration.

    ``tol > 0`` (the reference's real mode, tol=1e-5 / <=100 iters,
    Ranker.java:24-26) ALSO avoids a driver action per iteration: dangling
    mass folds into each step's plan the same broadcast-agg way, per-step
    max-diffs are 1-row aggregates unioned and collected ONCE per
    ``checkpoint_every`` stride, and on convergence the exact reference
    output — the iterate that ENTERED the first step whose diff < tol, the
    previous-iterate quirk — is returned from the stride's persisted chain.
    Driver actions: ~2 per stride instead of 1+ per iteration.
    """
    # n first, from the vertex table alone (left-joining out_deg preserves
    # the count): the fused single-partition path below then needs NO eager
    # materialization of the edge derivation — its one cogroup job performs
    # scan+out-degree+loop together, where the previous setup ran the edge
    # distinct + degree join + a stats collect serially before the loop.
    n = vertices.count()
    if n == 0:
        return vertices.withColumn("rank", F.lit(0.0))

    base = (1.0 - damping) / n
    fixed = tol <= 0.0

    # Size the iteration shuffles to the GRAPH, not the session default:
    # every iterate is a rank vector of n rows, so partitions ~ n/65k keeps
    # tasks meaningful at 10^9 vertices and collapses to 1 task for small
    # graphs (where per-task scheduling overhead would dominate the loop).
    # Restored in the finally below; cached-plan AQE coalescing is enabled
    # session-wide (session.py) but static sizing also covers plan reuse.
    sp_key = "spark.sql.shuffle.partitions"
    aqe_key = "spark.sql.adaptive.enabled"
    with _PAGERANK_CONF_LOCK:
        sp_old = spark.conf.get(sp_key)
        aqe_old = spark.conf.get(aqe_key)
        loop_parts = max(1, min(int(sp_old), n // 65_536 + 1))
        spark.conf.set(sp_key, str(loop_parts))
        if loop_parts == 1:
            # single-partition iterates: AQE has nothing to coalesce or
            # re-plan, but it would still submit one job per stage
            # materialization (~8 jobs/iteration measured) — pure
            # scheduling overhead here.
            spark.conf.set(aqe_key, "false")
        try:
            if fixed and loop_parts == 1:
                # Graph fits ONE shuffle partition: every iterate would
                # execute as a single task anyway, so the per-iteration
                # DataFrame plumbing (Catalyst analysis of a growing plan
                # ~0.35 s/step, checkpoint actions, per-step broadcasts —
                # measured 5-11 s for 8 steps on a 25-node graph) is pure
                # scheduling overhead. Run the whole fixed power iteration
                # as vectorized numpy inside that one task instead (guide
                # §4.2: Spark distributes, native code computes) — identical
                # formula, one job (edges are referenced once, so nothing
                # here is persisted). Graphs above 65k vertices keep the
                # chained distributed loop below.
                return _pagerank_fused(
                    spark, vertices, edges, n, base, damping, max_iter
                )
            edges = edges.persist()  # every iteration joins against it
            out_deg = edges.groupBy(F.col("src").alias("id")).agg(
                F.count(F.lit(1)).alias("out_degree")
            )
            verts = (
                vertices.join(out_deg, "id", "left").fillna({"out_degree": 0}).persist()
            )
            n_dangling = (
                verts.agg(
                    F.sum(F.when(F.col("out_degree") == 0, 1).otherwise(0))
                ).collect()[0][0]
                or 0
            )
            prev = verts.select(
                "id", "out_degree", F.lit(1.0 / n).alias("rank")
            ).persist()
            dangling_mass = n_dangling * (1.0 / n)
            return _pagerank_loop(
                spark, verts, edges, prev, n, base, damping, dangling_mass,
                tol, max_iter, checkpoint_every, fixed,
            )
        finally:
            spark.conf.set(sp_key, sp_old)
            spark.conf.set(aqe_key, aqe_old)


def _pagerank_fused(
    spark, vertices, edges, n, base, damping, max_iter
) -> DataFrame:
    """Fixed-iteration power loop fused into ONE task for single-partition
    graphs: the bare vertex and edge tables cogroup on a constant key; out
    degrees, the dangling set and the loop all run as numpy array ops
    (np.add.at scatter, boolean mask) — the same per-step formula as
    _pagerank_loop's fixed mode, without 8x (plan analysis + shuffle +
    broadcast) scheduling cost, and without materializing the degree join
    at all (each cogroup side scans its input exactly once — an earlier
    shape that joined a Spark-side out_deg into the vertex side re-ran the
    whole edge derivation on both sides). The result is localCheckpoint'ed
    so callers see the same materialized-frame contract as the chained
    path."""
    import pandas as pd

    max_iter_ = int(max_iter)
    base_ = float(base)
    damping_ = float(damping)
    n_ = int(n)

    def power(_key, vpdf: pd.DataFrame, epdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        ids = vpdf["id"].to_numpy()
        idx = {int(v): i for i, v in enumerate(ids)}
        src = np.fromiter((idx.get(int(s), -1) for s in epdf["src"]), dtype="int64", count=len(epdf))
        dst = np.fromiter((idx.get(int(d), -1) for d in epdf["dst"]), dtype="int64", count=len(epdf))
        # out_degree counts EVERY edge leaving a vertex — including edges to
        # ids outside `vertices` — matching the chained path's divisor
        # (edges.groupBy(src).count before any dst filtering)
        outd = np.zeros(n_, dtype="float64")
        if len(src):
            np.add.at(outd, src[src >= 0], 1.0)
        # only edges with BOTH endpoints in the vertex set scatter rank —
        # the chained path's src equi-join + verts left join semantics
        keep = (src >= 0) & (dst >= 0)
        src, dst = src[keep], dst[keep]
        dangling = outd == 0.0
        rank = np.full(n_, 1.0 / n_, dtype="float64")
        for _ in range(max_iter_):
            dm = float(rank[dangling].sum())
            in_sum = np.zeros(n_, dtype="float64")
            if len(src):
                np.add.at(in_sum, dst, rank[src] / outd[src])
            rank = base_ + damping_ * (in_sum + dm / n_)
        return pd.DataFrame({"id": ids, "rank": rank})

    out = (
        vertices.select("id")
        .groupBy(F.lit(0).alias("_g"))
        .cogroup(edges.select("src", "dst").groupBy(F.lit(0).alias("_g")))
        .applyInPandas(power, "id long, rank double")
        .localCheckpoint(eager=True)
    )
    return out


def _pagerank_loop(
    spark, verts, edges, prev, n, base, damping, dangling_mass,
    tol, max_iter, checkpoint_every, fixed,
) -> DataFrame:

    def _contribs(it: DataFrame) -> DataFrame:
        return (
            it.join(edges, it.id == edges.src)
            .select(F.col("dst").alias("id"), (F.col("rank") / F.col("out_degree")).alias("c"))
            .groupBy("id")
            .agg(F.sum("c").alias("in_sum"))
        )

    if fixed:
        # lineage checkpoint stride: each eager checkpoint is a driver
        # action; the cached iterates between checkpoints execute as chained
        # stages of ONE job, so actions drop from max_iter to max_iter/stride.
        stride = checkpoint_every
        handles: list[DataFrame] = [prev]
        for i in range(max_iter):
            dang = prev.agg(
                F.coalesce(
                    F.sum(F.when(F.col("out_degree") == 0, F.col("rank"))), F.lit(0.0)
                ).alias("_dm")
            )
            cur = (
                verts.join(_contribs(prev), "id", "left")
                .crossJoin(F.broadcast(dang))
                .select(
                    "id",
                    "out_degree",
                    (
                        F.lit(base)
                        + F.lit(damping)
                        * (F.coalesce(F.col("in_sum"), F.lit(0.0)) + F.col("_dm") / n)
                    ).alias("rank"),
                )
            )
            last = i + 1 == max_iter
            if last or (i + 1) % stride == 0:
                cur = cur.localCheckpoint(eager=True)  # one action per stride
                for h in handles:
                    h.unpersist()
                handles = []
            else:
                cur = cur.persist()
                handles.append(cur)
            prev = cur
        result = prev.select("id", "rank")
        verts.unpersist()
        edges.unpersist()
        return result

    # Convergence mode, stride-batched: build `checkpoint_every` iterates as
    # a persisted chain (dangling folded into each step's plan as a
    # broadcast 1-row agg — same shape as fixed mode), then ONE collect of
    # the unioned per-step max-diff aggregates decides whether any step in
    # the stride converged. The reference breaks BEFORE the swap
    # (Ranker.java:178), returning the iterate that entered the converged
    # step — that iterate is still persisted in the chain, so batching the
    # check changes the action count, not the output.
    from functools import reduce

    stride = max(1, checkpoint_every)
    it_done = 0
    while it_done < max_iter:
        k = min(stride, max_iter - it_done)
        iterates = [prev]
        diffs = []
        for s in range(1, k + 1):
            p = iterates[-1]
            dang = p.agg(
                F.coalesce(
                    F.sum(F.when(F.col("out_degree") == 0, F.col("rank"))), F.lit(0.0)
                ).alias("_dm")
            )
            cur = (
                verts.join(_contribs(p), "id", "left")
                .crossJoin(F.broadcast(dang))
                .select(
                    "id",
                    "out_degree",
                    (
                        F.lit(base)
                        + F.lit(damping)
                        * (F.coalesce(F.col("in_sum"), F.lit(0.0)) + F.col("_dm") / n)
                    ).alias("rank"),
                )
                .persist()
            )
            iterates.append(cur)
            diffs.append(
                cur.alias("c")
                .join(p.alias("p"), "id")
                .agg(
                    F.lit(s).alias("step"),
                    F.max(F.abs(F.col("c.rank") - F.col("p.rank"))).alias("max_diff"),
                )
            )
        # materialize the chain tip first (one job computes every persisted
        # iterate), then the diff collect reads only cached data
        tip = iterates[-1].localCheckpoint(eager=True)
        stats = sorted(
            reduce(DataFrame.unionByName, diffs).collect(), key=lambda r: r.step
        )
        conv = next(
            (r.step for r in stats if r.max_diff is not None and r.max_diff < tol),
            None,
        )
        if conv is not None:
            out = iterates[conv - 1].localCheckpoint(eager=True)
            for h in iterates:
                h.unpersist()
            # tip is this stride's chain checkpoint, not the returned frame —
            # drop it or a long-lived serve session leaks one RDD per call
            tip.unpersist()
            prev = out
            break
        for h in iterates:
            h.unpersist()
        prev = tip
        it_done += k
    result = prev.select("id", "rank")
    verts.unpersist()
    edges.unpersist()
    return result


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
