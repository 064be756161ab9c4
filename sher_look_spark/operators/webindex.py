"""Index + serve tiers over crawled pages — the reference's `index` and
`serve` run modes (Application.java:15-48) as DataFrame jobs over the crawl
engine's snapshot tables.

index_pages: pages(html) -> postings/doc-metadata/sizes with the
reference's exact extraction semantics (functions/htmlparse.py) and
kept-token positions running title -> document-order sections.

pagerank_from_links: the link graph exactly as DatabaseHelper.getLinks
(:451-466) builds it — edges only between crawled documents (target URL
resolved against the documents table), every crawled doc a vertex.

search_pages: Q1-Q11 end-to-end over a crawl state dir's prebuilt index.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sher_look_spark.crawler.storage import Snapshot, SnapshotStore
from sher_look_spark.functions.hashing import url_hash64_col
from sher_look_spark.functions.htmlparse import extract_fields
from sher_look_spark.functions.text import kept_tokens_column

# the tables of a snapshot's prebuilt index; a snapshot without all of them
# answers every search with an empty page
INDEX_TABLES = ("postings", "documents_meta", "idf")


def has_index(snap: Snapshot | None) -> bool:
    """Whether ``snap`` holds a prebuilt index (``index_incremental`` ran)."""
    return snap is not None and all(snap.tables.get(t) for t in INDEX_TABLES)


PARSE_SCHEMA = T.StructType(
    [
        T.StructField("title", T.StringType()),
        T.StructField("description", T.StringType()),
        T.StructField(
            "sections",
            T.ArrayType(
                T.StructType(
                    [T.StructField("sec", T.StringType()), T.StructField("txt", T.StringType())]
                )
            ),
        ),
    ]
)


def _parse_udf():
    from pyspark.sql.functions import pandas_udf

    @pandas_udf(PARSE_SCHEMA)
    def parse(html: pd.Series) -> pd.DataFrame:
        titles, descs, secs = [], [], []
        for h in html:
            t, d, s = extract_fields(h or "")
            titles.append(t)
            descs.append(d)
            secs.append(s)
        return pd.DataFrame({"title": titles, "description": descs, "sections": secs})

    return parse


def index_pages(pages: DataFrame) -> dict[str, DataFrame]:
    """pages(url, html, ...) -> {documents_meta, postings, doc_sizes, parsed}.

    ``parsed`` is the persisted parse that the other three frames read; the
    caller unpersists it once they are written."""
    parsed = (
        pages.withColumn("p", _parse_udf()("html"))
        .withColumn("doc_id", url_hash64_col("url"))
        .persist()
    )
    meta = parsed.select(
        "doc_id", "url", F.col("p.title").alias("title"),
        F.col("p.description").alias("description"),
    )
    # kept-token filtering happens inside each section's array (order-
    # preserving), then one flatten over the document's sections in order —
    # posexplode yields the reference's cross-section running position with
    # NO per-document shuffle + window (the previous formulation's Exchange +
    # Sort over every token of the corpus).
    flat = F.flatten(
        F.transform(
            F.col("p.sections"),
            lambda s: F.transform(
                kept_tokens_column(s["txt"]),
                lambda t: F.struct(s["sec"].alias("section"), t.alias("word")),
            ),
        )
    )
    postings = parsed.select("doc_id", F.posexplode(flat).alias("position", "sw")).select(
        "doc_id", "sw.section", "sw.word", "position"
    )
    from sher_look_spark.operators.indexer import document_sizes

    sizes = document_sizes(postings)
    return {
        "documents_meta": meta, "postings": postings, "doc_sizes": sizes, "parsed": parsed,
    }


def index_incremental(spark: SparkSession, store: SnapshotStore) -> dict[str, int]:
    """I1: the reference's `index` run mode — index only documents whose
    index_time IS NULL (DatabaseHelper.java:122-135). The crawled-docs view
    left-joins `documents_meta`; rows with a NULL index_time are the to-do
    set, exactly the reference's predicate (no side table). Appended meta
    rows carry the reference's documents-table columns (schema.sql:4-15):
    crawl_time (from the crawl tier), index_time (stamped here),
    document_size; page_rank is filled by store_pagerank. Idempotent across
    crashes: the manifest commit is atomic."""
    pages = store.read(spark, "pages")
    if pages is None:
        return {"indexed": 0}
    meta = store.read(spark, "documents_meta")
    todo = pages
    if meta is not None:
        docview = pages.join(
            meta.select("url", "index_time"), "url", "left"
        )
        todo = docview.filter(F.col("index_time").isNull()).drop("index_time")
    todo = todo.persist()
    n = todo.count()
    if n == 0:
        todo.unpersist()
        return {"indexed": 0}
    idx = index_pages(todo)
    images = store.read(spark, "images")
    new_meta = idx["documents_meta"].join(
        idx["doc_sizes"], "doc_id", "left"
    ).withColumn("index_time", F.current_timestamp())
    if images is not None and "crawl_time" in images.columns:
        new_meta = new_meta.join(images.select("url", "crawl_time"), "url", "left")
    else:
        new_meta = new_meta.withColumn("crawl_time", F.lit(None).cast("timestamp"))
    new_meta = new_meta.withColumn("page_rank", F.lit(None).cast("double")).select(
        "doc_id", "url", "title", "description", "document_size",
        "crawl_time", "index_time", "page_rank",
    )
    snap = store.latest()
    wave = (snap.state.get("index_runs", 0) if snap else 0) + 1
    state = dict(snap.state) if snap else {}
    prev_total = state.get("indexed_docs_total")
    if prev_total is None:
        # legacy-store resume (index_runs present, indexed_docs_total absent):
        # counting only the new docs would make N span the delta while df
        # spans the combined postings — silently wrong idf for every word.
        # Count the existing documents_meta rows instead (one cheap job,
        # only on this migration path).
        prev_total = meta.count() if meta is not None else 0
    n_docs_total = prev_total + n
    appends = {
        "postings": [store.stage_write(idx["postings"], "postings", wave)],
        "documents_meta": [store.stage_write(new_meta, "documents_meta", wave)],
    }
    # IDF is corpus-global (N over df) and the reference recomputes it over
    # the whole index after each run (Indexer.java:195,
    # DatabaseHelper.java:544-567). Re-aggregating ALL postings per run does
    # not scale with index size, so per-word df is maintained incrementally
    # in the small `word_df` table: newly indexed docs are disjoint from
    # previously indexed ones (the index_time IS NULL predicate), so their
    # df contributions ADD. A legacy store (postings present, word_df
    # absent) pays one full aggregation to migrate. idf = ln(N/df+1) is then
    # derived from word_df alone and REPLACES the idf table; the serve tier
    # reads it prebuilt.
    from sher_look_spark.operators.indexer import idf_from_df

    delta_df = idx["postings"].groupBy("word").agg(
        F.countDistinct("doc_id").alias("df")
    )
    old_df = store.read(spark, "word_df")
    if old_df is None:
        old_postings = store.read(spark, "postings")
        if old_postings is not None:
            old_df = old_postings.groupBy("word").agg(
                F.countDistinct("doc_id").alias("df")
            )
    word_df = (
        delta_df if old_df is None
        else old_df.unionByName(delta_df)
        .groupBy("word")
        .agg(F.sum("df").cast("long").alias("df"))
    ).persist()
    replaces = {
        "word_df": [store.stage_write(word_df, "word_df", wave)],
        "idf": [store.stage_write(idf_from_df(word_df, n_docs_total), "idf", wave)],
    }
    state["index_runs"] = wave
    state["indexed_docs_total"] = n_docs_total
    store.commit(appends=appends, replaces=replaces, state=state)
    word_df.unpersist()
    idx["parsed"].unpersist()
    todo.unpersist()
    return {"indexed": n}


def store_pagerank(spark: SparkSession, store: SnapshotStore) -> DataFrame:
    """The reference's `page-rank` run mode: compute PageRank over the link
    graph and persist it (DatabaseHelper.updatePageRank :483). Only the
    CHANGED data — the (doc_id, page_rank) pairs — is written, replacing the
    small `page_rank` table; `documents_meta` is not rewritten (under Iceberg
    this is the MERGE that touches one column; here the delta stays
    normalized and `read_documents_meta` joins it in at read time). Returns
    the joined meta view with page_rank filled."""
    meta = store.read(spark, "documents_meta")
    if meta is None:
        raise ValueError("run index_incremental before page-rank")
    pr = pagerank_from_links(spark, store)
    snap = store.latest()
    wave = (snap.state.get("index_runs", 0) if snap else 0)
    rel = store.stage_write(
        pr.select(F.col("id").alias("doc_id"), F.col("rank").alias("page_rank")),
        "page_rank", wave,
    )
    store.commit(replaces={"page_rank": [rel]}, state=dict(snap.state))
    return read_documents_meta(spark, store)


def read_documents_meta(
    spark: SparkSession, store: SnapshotStore, snap: Snapshot | None = None
) -> DataFrame | None:
    """documents_meta with the page_rank table of ``snap`` (default: the
    latest snapshot) joined in (the read side of store_pagerank's
    column-delta write)."""
    meta = store.read(spark, "documents_meta", snap)
    if meta is None:
        return None
    prt = store.read(spark, "page_rank", snap)
    if prt is None:
        return meta
    return (
        meta.drop("page_rank")
        .join(prt, "doc_id", "left")
        .select(*meta.columns)
    )


def pagerank_from_links(spark: SparkSession, store: SnapshotStore) -> DataFrame:
    """(id=url_hash, rank) over the crawled link graph (both-ends-crawled edges)."""
    from sher_look_spark.operators.ranking import pagerank

    images = store.read(spark, "images")
    links = store.read(spark, "links")
    if images is None:  # no crawl state: empty graph, empty ranks
        return spark.createDataFrame([], "id long, rank double")
    verts = images.select(url_hash64_col("url").alias("id")).distinct()
    if links is None:
        return pagerank(spark, verts, spark.createDataFrame([], "src long, dst long"))
    edges = (
        links.select(
            url_hash64_col("parent_url").alias("src"), url_hash64_col("child_url").alias("dst")
        )
        .join(verts.select(F.col("id").alias("dst")), "dst", "left_semi")
    )
    return pagerank(spark, verts, edges)


def search_pages(
    spark: SparkSession, state_dir: str, query: str, page: int = 1, per_page: int = 10
) -> DataFrame:
    """The `serve` tier: ranked (url, title, final_score, snippet) page slice.

    Serves from the PREBUILT index — postings / documents_meta / idf /
    page_rank as written by ``index_incremental`` + ``store_pagerank`` — the
    way the reference serves from its DatabaseHelper tables
    (web/SearchController.java:41-90). A snapshot without that index (or no
    crawl state at all) answers an empty page. Snippets are generated
    AFTER pagination, for just the page's ≤ per_page docs (reference order:
    Ranker.java:623-637 -> :527-621) — corpus-wide snippet generation is
    unbounded for a frequent term."""
    from sher_look_spark.operators.query_parse import parse_query, search
    from sher_look_spark.operators.ranking import snippets

    store = SnapshotStore(state_dir)
    snap = store.latest()
    if not has_index(snap):
        return spark.createDataFrame(
            [], "url string, title string, final_score double, snippet string"
        )
    postings = store.read(spark, "postings", snap)
    meta = read_documents_meta(spark, store, snap)
    idf = store.read(spark, "idf", snap)
    sizes = meta.select("doc_id", "document_size")
    pr = meta.select(
        F.col("doc_id").alias("id"), F.col("page_rank").alias("rank")
    ).filter(F.col("rank").isNotNull())
    parsed = parse_query(query)
    # materialize the page slice once (≤ per_page rows): its plan — the whole
    # ranking pipeline — is consumed three times below (meta join, postings
    # prefilter, snippet fallback)
    ranked = search(
        spark, postings, sizes, idf, pr, parsed, page, per_page
    ).localCheckpoint(eager=True)
    terms = (
        parsed.tokens if parsed and not parsed.is_phrase
        else [t for p in (parsed.phrases if parsed else []) for t in p.split()]
    )
    out = ranked.join(meta, "doc_id", "left")
    if terms:
        page_postings = postings.join(
            F.broadcast(ranked.select("doc_id")), "doc_id", "left_semi"
        )
        snips = snippets(
            page_postings, terms,
            docs=ranked.join(meta.select("doc_id", "description"), "doc_id", "left"),
            # page_postings is pre-filtered to this page's <= per_page docs,
            # so the hit table is tiny by construction — broadcast it
            hits_bounded=True,
        )
        out = out.join(snips, "doc_id", "left")
    else:
        out = out.withColumn("snippet", F.lit(None).cast("string"))
    return out.select("url", "title", "final_score", "snippet").orderBy(
        F.desc("final_score"), "url"
    )
