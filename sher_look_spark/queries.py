"""Operator showcase queries + DuckDB oracle SQL — the driver correctness gate.

Each entry pairs a Spark DataFrame implementation (the engine's operators
exercised over the driver's testdata tables) with an equivalent ANSI-SQL
string DuckDB can run on the same parquet. Column names/aliases match on both
sides; doubles are rounded identically so order-insensitive value-hashes
agree.

Operator coverage keys mirror SURVEY §2 (C=crawl, I=index, Q=query/rank) plus
the training-data-pipeline family (dedup_*, sim_*, text_*).
"""

from __future__ import annotations

from collections.abc import Callable

import pandas as pd  # noqa: F401 — pandas-UDF type hints resolve against module globals

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sher_look_spark.functions.robots import robots_allowed_udf, rule_to_regex
from sher_look_spark.functions.text import TOKEN_SPLIT_RE, stop_words
from sher_look_spark.functions.urls import normalize_url_udf

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings".split()
)


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _sql_stoplist() -> str:
    return ", ".join("'" + w.replace("'", "''") + "'" for w in sorted(stop_words()))


# Shared DuckDB CTE: reference tokenizer (lower, \W+ split, stop-drop, kept-only
# positions) over the documents table.
def _sql_tokens_cte() -> str:
    return f"""
raw AS (
  SELECT doc_id,
         unnest(regexp_split_to_array(lower(text), '\\W+')) AS word,
         generate_subscripts(regexp_split_to_array(lower(text), '\\W+'), 1) AS ord
  FROM documents
),
tokens AS (
  SELECT doc_id, word,
         row_number() OVER (PARTITION BY doc_id ORDER BY ord) - 1 AS position
  FROM raw
  WHERE word <> '' AND word NOT IN ({_sql_stoplist()})
)
"""


# Raw-token CTE (empties dropped, stop words KEPT) — the shingle basis for
# fingerprint/jaccard, matching operators.dedup.shingles_column.
SQL_RAWTOK_CTE = """
rawtok AS (
  SELECT doc_id, word,
         row_number() OVER (PARTITION BY doc_id ORDER BY ord) AS position
  FROM (
    SELECT doc_id,
           unnest(regexp_split_to_array(lower(text), '\\W+')) AS word,
           generate_subscripts(regexp_split_to_array(lower(text), '\\W+'), 1) AS ord
    FROM documents
  )
  WHERE word <> ''
)
"""


# The tokenize+shuffle over `documents` feeds i4/i7/i9/i11/q4-q11 — cache it
# per (session, sf_dir) so the headline suite and the driver's per-query runs
# pay it once, the way the real engine materializes postings (the reference
# persists document_words once at index time, DatabaseHelper.java:238-262).
_TOKEN_CACHE: dict[tuple[str, str], DataFrame] = {}


def _spark_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sher_look_spark.functions.text import explode_tokens

    key = (spark.sparkContext.applicationId, sf_dir)
    df = _TOKEN_CACHE.get(key)
    if df is None:
        # columnar-cache compression off for THIS relation only (the flag is
        # captured when the cache entry is registered): building the token
        # cache is on the first consumer's critical path, and compressing
        # three narrow columns costs more build CPU than the reads save
        # (measured ~2s of ~5.7s cold build at sf1.0)
        ck = "spark.sql.inMemoryColumnarStorage.compressed"
        old = spark.conf.get(ck)
        spark.conf.set(ck, "false")
        try:
            df = explode_tokens(load(spark, sf_dir, "documents"), "text").persist()
        finally:
            spark.conf.set(ck, old)
        _TOKEN_CACHE[key] = df
    return df


QUERY_TERMS = ["spark", "merge", "vector"]  # frequent non-stop corpus words


# --------------------------------------------------------------------- crawl

def q_c3_url_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C3: canonicalizer over messy URLs synthesized from table columns."""
    docs = load(spark, sf_dir, "documents")
    messy = F.concat(
        F.lit("HTTP://"), F.upper("source"), F.lit(".TEST:80/d/"),
        F.col("doc_id").cast("string"), F.lit("/?utm_src=x&b=2&a=1&ref=y#frag"),
    )
    return docs.select(
        "doc_id", normalize_url_udf(messy).alias("norm_url")
    )


SQL_C3 = """
SELECT doc_id,
       'http://' || lower(source) || '.test/d/' || doc_id || '?a=1&b=2' AS norm_url
FROM documents
"""


def q_c4_seen_antijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4: URL-seen dedup shape — anti-join events against a 'seen' set
    covering only even customer keys, so the survivor set is non-empty at
    every sf (a 0-row anti-join result would verify nothing)."""
    events = load(spark, sf_dir, "events")
    seen = (
        load(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") % 2 == 0)
        .select(F.col("c_custkey").alias("user_id"))
    )
    return (
        events.join(seen, "user_id", "left_anti")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )


SQL_C4 = """
SELECT user_id, count(*) AS n_events
FROM events e
WHERE NOT EXISTS (SELECT 1 FROM customer c
                  WHERE c.c_custkey = e.user_id AND c.c_custkey % 2 = 0)
GROUP BY user_id
"""


def q_c6_robots_precedence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C6: longest-match allow/disallow over synthesized paths
    (disallow /d/1*, allow-back /d/12*)."""
    docs = load(spark, sf_dir, "documents")
    allow = F.array(F.lit(rule_to_regex("/d/12")))
    disallow = F.array(F.lit(rule_to_regex("/d/1")))
    path = F.concat(F.lit("/d/"), F.col("doc_id").cast("string"))
    return docs.select(
        "doc_id",
        robots_allowed_udf(path, allow, disallow).alias("allowed"),
    )


SQL_C6 = """
SELECT doc_id,
       (NOT ('/d/' || doc_id) LIKE '/d/1%') OR (('/d/' || doc_id) LIKE '/d/12%') AS allowed
FROM documents
"""


def q_c7_politeness_slots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C7: per-host crawl-delay budget as a rank window (host≈user)."""
    from pyspark.sql import Window

    events = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        events.withColumn("slot", F.row_number().over(w))
        .filter(F.col("slot") <= 3)
        .select("event_id", "user_id", "slot")
    )


SQL_C7 = """
SELECT event_id, user_id, slot FROM (
  SELECT event_id, user_id,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS slot
  FROM events
) WHERE slot <= 3
"""


def q_c9_content_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C9: exact content-hash dedup — canonical id + duplicate count."""
    from sher_look_spark.operators.dedup import exact_dedup

    return exact_dedup(load(spark, sf_dir, "documents"))


SQL_C9 = """
SELECT sha256(text) AS content_hash, min(doc_id) AS canonical_id, count(*) AS dup_count
FROM documents GROUP BY sha256(text)
"""


def q_c11_topk_children(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C11: per-parent top-K by (length, id) — the child-select window."""
    from pyspark.sql import Window

    cust = load(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy(F.length("c_name"), "c_custkey")
    return (
        cust.withColumn("slot", F.row_number().over(w))
        .filter(F.col("slot") <= 5)
        .select("c_nationkey", "c_custkey", "slot")
    )


SQL_C11 = """
SELECT c_nationkey, c_custkey, slot FROM (
  SELECT c_nationkey, c_custkey,
         row_number() OVER (PARTITION BY c_nationkey ORDER BY length(c_name), c_custkey) AS slot
  FROM customer
) WHERE slot <= 5
"""


def q_c1_seed_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C1: dense discovery-rank assignment in a global sort order — exercises
    the engine's scale-safe rank operator (range repartition + per-partition
    row_number + broadcast offsets; no single-reducer window, no Python rows).
    Reference analog: seed file order -> queue order (Crawler.java:87-105)."""
    from sher_look_spark.crawler.engine import _dense_rank_sorted

    docs = load(spark, sf_dir, "documents").select("doc_id", "source")
    ranked, _handle, _n = _dense_rank_sorted(docs, ["source", "doc_id"], "rank", 0)
    return ranked.select("doc_id", "rank")


SQL_C1 = """
SELECT doc_id, row_number() OVER (ORDER BY source, doc_id) - 1 AS rank
FROM documents
"""


def q_c2_budget_stop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C2: max-pages budget cut at the FIFO stop rank — the first `budget`
    candidates in (ts, event_id) poll order survive (CrawlTask.java:50-55).
    orderBy().limit() compiles to TakeOrderedAndProject (no global sort)."""
    events = load(spark, sf_dir, "events")
    return (
        events.orderBy("ts", "event_id")
        .limit(200)
        .select("event_id", "user_id")
    )


SQL_C2 = """
SELECT event_id, user_id FROM events ORDER BY ts, event_id LIMIT 200
"""


def q_c5_robots_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C5: robots.txt fetch+parse over synthesized per-host bodies — the real
    parser (parse_robots_txt incl. rule_to_regex) runs in an Arrow batch;
    the oracle reconstructs the expected regex lists by string construction
    (Robots.java:52-68 accumulation, ruleToRegex :145-157)."""
    import pandas as pd

    from pyspark.sql import types as T
    from pyspark.sql.functions import pandas_udf

    from sher_look_spark.functions.robots import parse_robots_txt

    @pandas_udf(T.StringType())
    def parse_allow(bodies: pd.Series) -> pd.Series:
        return bodies.map(lambda b: "|".join(parse_robots_txt(b)[0]))

    @pandas_udf(T.StringType())
    def parse_disallow(bodies: pd.Series) -> pd.Series:
        return bodies.map(lambda b: "|".join(parse_robots_txt(b)[1]))

    docs = load(spark, sf_dir, "documents")
    body = F.concat(
        F.lit("User-agent: googlebot\nDisallow: /\n\nUser-agent: *\nDisallow: /d/"),
        (F.col("doc_id") % 10).cast("string"),
        F.lit("\nAllow: /d/"),
        (F.col("doc_id") % 10).cast("string"),
        (F.col("doc_id") % 10).cast("string"),
        F.lit("\n"),
    )
    return docs.select(
        "doc_id",
        parse_allow(body).alias("allow_rules"),
        parse_disallow(body).alias("disallow_rules"),
    )


SQL_C5 = """
SELECT doc_id,
       '^/d/' || (doc_id % 10) || (doc_id % 10) || '.*' AS allow_rules,
       '^/d/' || (doc_id % 10) || '.*' AS disallow_rules
FROM documents
"""


def q_c10_link_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C10: child-link canonicalization (Jsoup absUrl + normalize + absolute
    gate, CrawlTask.java:130-143) over five synthesized href shapes: already-
    canonical absolute, relative ../, messy absolute (case/port/param-order/
    fragment), junk scheme (-> NULL), and rooted path with a tracking param."""
    from sher_look_spark.functions.urls import canonicalize_href_udf

    docs = load(spark, sf_dir, "documents")
    base = F.concat(F.lit("http://"), F.lower("source"), F.lit(".test/dir/page"))
    sid = F.col("doc_id").cast("string")
    href = (
        F.when(F.col("doc_id") % 5 == 0, F.concat(F.lit("http://ext.test/x/"), sid))
        .when(F.col("doc_id") % 5 == 1, F.concat(F.lit("../up/"), sid))
        .when(
            F.col("doc_id") % 5 == 2,
            F.concat(F.lit("HTTP://EXT.TEST:80/p/"), sid, F.lit("/?b=2&a=1#f")),
        )
        .when(F.col("doc_id") % 5 == 3, F.lit("mailto:admin@example.com"))
        .otherwise(F.concat(F.lit("/rooted/"), sid, F.lit("?utm_x=1&keep=2")))
    )
    return docs.select("doc_id", canonicalize_href_udf(base, href).alias("child_url"))


SQL_C10 = """
SELECT doc_id,
       CASE doc_id % 5
         WHEN 0 THEN 'http://ext.test/x/' || doc_id
         WHEN 1 THEN 'http://' || lower(source) || '.test/up/' || doc_id
         WHEN 2 THEN 'http://ext.test/p/' || doc_id || '?a=1&b=2'
         WHEN 3 THEN NULL
         ELSE 'http://' || lower(source) || '.test/rooted/' || doc_id || '?keep=2'
       END AS child_url
FROM documents
"""


# Synthetic-web configs for the crawl-tier end-to-end oracles. The oracle SQL
# is generated from the INDEPENDENT pure-Python reference simulator (and from
# string-reconstructed synth semantics), so these rows genuinely discriminate.
import sher_look_spark.crawler.synth as synth  # noqa: E402

FETCH_WEB = synth.SynthWebConfig(n_hosts=6, pages_per_host=10, seed=4242, dup_every=7, timeout_pct=4)
CRAWL_WEB = synth.SynthWebConfig(
    n_hosts=5, pages_per_host=8, seed=4242, timeout_pct=5, dup_every=4, robots_every=3
)
CRAWL_SEEDS = synth.seed_urls(CRAWL_WEB, 4)


def q_c8_fetch_captions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C8: the REAL batched Arrow fetch mapper over a (host, page) grid derived
    from doc_ids; the oracle reconstructs status/title/caption from the synth
    web's sha256 semantics in SQL (timeout decision, duplicate-content key,
    vocab word picks) — full cross-engine parity for the fetch path."""
    from sher_look_spark.crawler.engine import FETCH_SCHEMA, _make_fetch_mapper

    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 240)
    frontier = docs.select(
        F.format_string(
            "http://host%04d.test/page/%d",
            (F.col("doc_id") % FETCH_WEB.n_hosts).cast("int"),
            (F.col("doc_id") % FETCH_WEB.pages_per_host).cast("int"),
        ).alias("url"),
        F.lit(0).alias("depth"),
        F.col("doc_id").alias("rank"),
    )
    fetched = frontier.mapInPandas(_make_fetch_mapper(FETCH_WEB), FETCH_SCHEMA)
    return fetched.select(
        F.col("rank").alias("doc_id"), "status", "title", "caption"
    )


def sql_c8() -> str:
    nh, pp, seed = FETCH_WEB.n_hosts, FETCH_WEB.pages_per_host, FETCH_WEB.seed
    de, tp = FETCH_WEB.dup_every, FETCH_WEB.timeout_pct
    vocab = "', '".join(synth._VOCAB)
    nv = len(synth._VOCAB)
    return f"""
WITH grid AS (
  SELECT doc_id, doc_id % {nh} AS i, doc_id % {pp} AS j FROM documents WHERE doc_id < 240
),
keyed AS (
  SELECT doc_id, i, j,
         ('0x' || substr(sha256('{seed}|timeout|' || i || '|' || j), 1, 16))::UBIGINT % 100 < {tp} AS t_out,
         i AS ci, CASE WHEN j > 0 AND j % {de} = 0 THEN j - 1 ELSE j END AS cj
  FROM grid
),
vocab AS (SELECT w, row_number() OVER () AS rn FROM (SELECT unnest(['{vocab}']) AS w)),
caps AS (
  SELECT k.doc_id, string_agg(v.w, ' ' ORDER BY g.k) AS capwords
  FROM keyed k
  CROSS JOIN (SELECT unnest(range(4)) AS k) g
  JOIN vocab v ON v.rn = 1 + (('0x' || substr(sha256('{seed}|cap|' || k.ci || '|' || k.cj || '|' || g.k), 1, 16))::UBIGINT % {nv})
  GROUP BY k.doc_id
)
SELECT k.doc_id,
       CASE WHEN k.t_out THEN 'timeout' ELSE 'ok' END AS status,
       CASE WHEN k.t_out THEN NULL
            ELSE 'Synthetic page ' || k.cj || ' of host ' || k.ci END AS title,
       CASE WHEN k.t_out THEN NULL
            ELSE 'img host' || k.ci || ' page' || k.cj || ' ' || c.capwords END AS caption
FROM keyed k JOIN caps c USING (doc_id)
"""


def _crawl_commit_seq(spark: SparkSession, eng) -> DataFrame:
    from pyspark.sql import Window

    imgs = eng.store.read(spark, "images")
    w = Window.orderBy("wave", "rank")  # bounded by the tiny oracle crawl
    return imgs.select("wave", "rank", "url").withColumn(
        "commit_seq", F.row_number().over(w) - 1
    ).select("commit_seq", "url")


from functools import lru_cache  # noqa: E402


@lru_cache(maxsize=1)
def _sql_crawl_order() -> str:
    from sher_look_spark.crawler.simulator import simulate_crawl

    sim = simulate_crawl(CRAWL_WEB, CRAWL_SEEDS, max_pages=10_000, max_depth=2)
    vals = ", ".join(f"({i}, '{c['url']}')" for i, c in enumerate(sim.committed))
    return f"SELECT * FROM (VALUES {vals}) AS t(commit_seq, url)"


def q_c14_crawl_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C14: full wave-engine crawl on the deterministic synthetic web; the
    oracle is a VALUES literal emitted by the single-threaded reference
    simulator (pure Python, no Spark) — an end-to-end BFS-order equality
    check through normalize/seen/robots/fetch/dedup/link semantics."""
    import tempfile

    from sher_look_spark.crawler.engine import CrawlConfig, CrawlEngine

    eng = CrawlEngine(
        spark, tempfile.mkdtemp(prefix="c14-"),
        CrawlConfig(max_pages=10_000, max_depth=2, web=CRAWL_WEB, store_html=False),
    )
    eng.run(CRAWL_SEEDS)
    return _crawl_commit_seq(spark, eng)


def q_c13_resume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C13: crash/resume — run one wave, drop the engine, resume from the
    snapshot store with a fresh instance, finish the crawl. The final commit
    order must equal the UNINTERRUPTED reference simulation (same oracle as
    c14), proving snapshot checkpointing is exact."""
    import tempfile

    from sher_look_spark.crawler.engine import CrawlConfig, CrawlEngine

    state = tempfile.mkdtemp(prefix="c13-")
    cfg = CrawlConfig(max_pages=10_000, max_depth=2, web=CRAWL_WEB, store_html=False)
    eng1 = CrawlEngine(spark, state, cfg)
    eng1.seed(CRAWL_SEEDS)
    eng1.run_wave()
    eng2 = CrawlEngine(spark, state, cfg)  # "crash": rebuild from disk alone
    eng2.run()
    return _crawl_commit_seq(spark, eng2)


# ------------------------------------------------------------------ streaming

def q_stream_windowed_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming: event-time 1h windows + watermark over the events
    table via availableNow into a memory sink; the oracle is the equivalent
    batch aggregation (single availableNow batch -> the watermark drops
    nothing, so streaming == batch exactly)."""
    import uuid

    from sher_look_spark.sources.readers import EVENTS_SCHEMA
    from sher_look_spark.streaming.events import windowed_event_counts

    # the file-stream source needs a DIRECTORY basePath; glob-filter the table
    stream = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    agg = windowed_event_counts(stream, window="1 hour", watermark="2 hours")
    name = f"wincounts_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.format("memory").queryName(name)
        .outputMode("complete").trigger(availableNow=True).start()
    )
    q.awaitTermination(180)
    q.stop()
    return spark.table(name)


SQL_STREAM_WINDOWED = """
SELECT date_trunc('hour', ts) AS win_start,
       date_trunc('hour', ts) + INTERVAL 1 HOUR AS win_end,
       event_type,
       count(*) AS n_events,
       round(sum(value), 4) AS sum_value
FROM events GROUP BY 1, 2, 3
"""


# ----------------------------------------------------------------- multimodal

def _mm_fixture_array(d: int):
    """The deterministic constant-color HxWx3 array for doc_id d."""
    import numpy as np

    w, h = 4 + d % 5, 3 + d % 4
    arr = np.zeros((h, w, 3), dtype=np.uint8)
    arr[:, :, 0] = d % 256
    arr[:, :, 1] = (2 * d) % 256
    arr[:, :, 2] = (3 * d) % 256
    return arr


_MM_LOSSY_QINDEX = 4
_MM_LOSSY_CACHE: dict = {}


def _mm_lossy_expected() -> dict[int, tuple[float, float, float]]:
    """Expected decoded channel means for the lossy-VP8 fixture rows
    (doc_id % 6 == 3), computed with libwebp (ctypes, system library) as an
    INDEPENDENT reference decoder when present; our own decoder otherwise
    (the two are certified bit-exact in tests/test_vp8.py). A lossy-encoded
    constant image reconstructs to a constant image (DC-only coefficients,
    one value per plane), so per-channel means are exact integers."""
    if _MM_LOSSY_CACHE:
        return _MM_LOSSY_CACHE
    import numpy as np

    from sher_look_spark.functions.vp8codec import encode_webp_lossy, yuv420_to_rgb

    def _decode_rgb(data: bytes) -> "np.ndarray":
        # libwebp decodes the BITSTREAM (the part our codec could get
        # wrong); the fixed published YUV->RGB formula is shared so ±1
        # colorspace rounding can't masquerade as a codec diff.
        try:
            import ctypes

            lib = ctypes.CDLL("libwebp.so.7")
            lib.WebPDecodeYUV.restype = ctypes.POINTER(ctypes.c_uint8)
            lib.WebPDecodeYUV.argtypes = [
                ctypes.c_char_p, ctypes.c_size_t,
                ctypes.POINTER(ctypes.c_int), ctypes.POINTER(ctypes.c_int),
                ctypes.POINTER(ctypes.POINTER(ctypes.c_uint8)),
                ctypes.POINTER(ctypes.POINTER(ctypes.c_uint8)),
                ctypes.POINTER(ctypes.c_int), ctypes.POINTER(ctypes.c_int),
            ]
            w = ctypes.c_int()
            h = ctypes.c_int()
            up = ctypes.POINTER(ctypes.c_uint8)()
            vp = ctypes.POINTER(ctypes.c_uint8)()
            stride = ctypes.c_int()
            uv_stride = ctypes.c_int()
            p = lib.WebPDecodeYUV(
                data, len(data), ctypes.byref(w), ctypes.byref(h),
                ctypes.byref(up), ctypes.byref(vp),
                ctypes.byref(stride), ctypes.byref(uv_stride),
            )
            if p:
                cw, ch = (w.value + 1) // 2, (h.value + 1) // 2
                y = np.ctypeslib.as_array(p, shape=(h.value, stride.value))[:, : w.value].copy()
                u = np.ctypeslib.as_array(up, shape=(ch, uv_stride.value))[:, :cw].copy()
                v = np.ctypeslib.as_array(vp, shape=(ch, uv_stride.value))[:, :cw].copy()
                lib.WebPFree(p)
                return yuv420_to_rgb(y, u, v)
        except OSError:
            pass
        from sher_look_spark.functions.webpcodec import decode_webp

        return decode_webp(data)

    for d in range(3, 200, 6):
        arr = _mm_fixture_array(d)
        dec = _decode_rgb(encode_webp_lossy(arr, qindex=_MM_LOSSY_QINDEX))
        _MM_LOSSY_CACHE[d] = (
            float(dec[:, :, 0].mean()),
            float(dec[:, :, 1].mean()),
            float(dec[:, :, 2].mean()),
        )
    return _MM_LOSSY_CACHE


def _synth_raw_images(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic constant-color images derived from doc_ids — the
    binary-column input for the multimodal operators. doc_id % 6 in (0, 2)
    rows carry LOSSLESS WebP (VP8L) bytes, doc_id % 6 == 3 rows LOSSY WebP
    (VP8 keyframe, functions/vp8codec.py), doc_id % 6 == 1 rows real-web
    PNG (row filters 1-4, some Adam7 — functions/pngcodec.py), doc_id % 12
    in (4, 10) rows favicon-class BMP / ICO (functions/icobmp.py), the
    rest the raw container.
    VP8L/raw decode exactly (closed-form oracle); the lossy rows' expected
    means are computed by an independent reference decoder (libwebp) and
    embedded in the oracle SQL (_mm_lossy_expected), so all three webp
    paths are value-certified end-to-end."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf(T.BinaryType())
    def mk(ids: pd.Series) -> pd.Series:
        from sher_look_spark.crawler.imaging import encode_raw
        from sher_look_spark.functions.vp8codec import encode_webp_lossy
        from sher_look_spark.functions.webpcodec import encode_webp_lossless

        from sher_look_spark.functions.pngcodec import encode_png_adv

        out = []
        for d in ids:
            arr = _mm_fixture_array(d)
            if d % 3 == 2 and d % 6 != 3:
                out.append(encode_webp_lossless(arr))
            elif d % 6 == 3:
                out.append(encode_webp_lossy(arr, qindex=_MM_LOSSY_QINDEX))
            elif d % 6 == 1:
                # real-web-shaped PNG: adaptive-style row filters 1-4 and
                # (every other row-class) Adam7 interlace — exercises the
                # full pngcodec decode paths through the Spark pipeline;
                # lossless, so the closed-form oracle is unchanged
                out.append(
                    encode_png_adv(
                        arr, 2, 8, filters=[1, 2, 3, 4], interlace=(d % 12 == 7)
                    )
                )
            elif d % 12 == 4:
                # favicon-class containers (lossless, oracle unchanged):
                # plain 24-bit BMP ...
                from sher_look_spark.functions.icobmp import encode_bmp

                out.append(encode_bmp(arr, 24))
            elif d % 12 == 10:
                # ... and ICO with a 32-bit DIB entry + AND mask
                from sher_look_spark.functions.icobmp import encode_ico

                out.append(encode_ico([(arr, None)]))
            else:
                out.append(encode_raw(arr))
        return pd.Series(out)

    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    return docs.select(
        F.col("doc_id").cast("string").alias("image_id"),
        mk("doc_id").alias("bytes"),
        F.when((F.col("doc_id") % 3 == 2) | (F.col("doc_id") % 6 == 3), F.lit("webp"))
        .when(F.col("doc_id") % 6 == 1, F.lit("png"))
        .when(F.col("doc_id") % 12 == 4, F.lit("bmp"))
        .when(F.col("doc_id") % 12 == 10, F.lit("ico"))
        .otherwise(F.lit("raw"))
        .alias("fmt"),
    )


def _sql_mm_lossy_values() -> str:
    rows = ", ".join(
        f"({d}, {mr!r}::DOUBLE, {mg!r}::DOUBLE, {mb!r}::DOUBLE)"
        for d, (mr, mg, mb) in sorted(_mm_lossy_expected().items())
    )
    return f"lossy(did, mr, mg, mb) AS (VALUES {rows})"


def sql_mm_features() -> str:
    """Oracle for mm_image_features: closed form for raw/VP8L rows, libwebp
    reference-decoded means for the lossy VP8 rows (still constant images,
    so std_gray stays 0 and w/h are the container dims)."""
    return f"""
WITH {_sql_mm_lossy_values()}
SELECT doc_id::VARCHAR AS image_id,
       (4 + doc_id % 5)::INT AS w, (3 + doc_id % 4)::INT AS h,
       COALESCE(l.mr, (doc_id % 256)::DOUBLE) AS mean_r,
       COALESCE(l.mg, ((2 * doc_id) % 256)::DOUBLE) AS mean_g,
       COALESCE(l.mb, ((3 * doc_id) % 256)::DOUBLE) AS mean_b,
       0.0::DOUBLE AS std_gray
FROM documents LEFT JOIN lossy l ON doc_id = l.did WHERE doc_id < 200
"""


def q_mm_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal: decode + per-channel stats over a binary image column
    (Arrow-batched mapInPandas; bytes never enter a Python row path)."""
    from sher_look_spark.operators.multimodal import image_features

    feats = image_features(_synth_raw_images(spark, sf_dir))
    return feats.select("image_id", "w", "h", "mean_r", "mean_g", "mean_b", "std_gray")


def q_mm_resize_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal: resize -> PNG re-encode -> decode -> features. Constant
    pixels survive nearest-neighbor resize exactly, so the oracle predicts
    the decoded channel means of the ROUNDTRIPPED bytes."""
    from sher_look_spark.operators.multimodal import image_features, resize_images

    resized = resize_images(_synth_raw_images(spark, sf_dir), out_w=3, out_h=2)
    feats = image_features(resized)
    return feats.select("image_id", "w", "h", "mean_r", "mean_g", "mean_b")


def sql_mm_resize() -> str:
    """Oracle for mm_resize_roundtrip: constant pixels survive the
    nearest-neighbor resize and PNG roundtrip exactly, including the lossy
    rows (their decode is a constant image too — see _mm_lossy_expected)."""
    return f"""
WITH {_sql_mm_lossy_values()}
SELECT doc_id::VARCHAR AS image_id, 3 AS w, 2 AS h,
       COALESCE(l.mr, (doc_id % 256)::DOUBLE) AS mean_r,
       COALESCE(l.mg, ((2 * doc_id) % 256)::DOUBLE) AS mean_g,
       COALESCE(l.mb, ((3 * doc_id) % 256)::DOUBLE) AS mean_b
FROM documents LEFT JOIN lossy l ON doc_id = l.did WHERE doc_id < 200
"""


def q_mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal: every-2nd-frame sampling from the vid0 container, then
    per-frame decode+features — frame i of video d has mean_r (d+i) % 256."""
    from pyspark.sql.functions import pandas_udf

    from sher_look_spark.operators.multimodal import image_features, sample_frames

    @pandas_udf(T.BinaryType())
    def mkvid(ids: pd.Series) -> pd.Series:
        import numpy as np

        from sher_look_spark.operators.multimodal import encode_vid0

        out = []
        for d in ids:
            frames = []
            for i in range(1 + d % 4):
                arr = np.zeros((2 + d % 2, 4 + d % 3, 3), dtype=np.uint8)
                arr[:, :, 0] = (d + i) % 256
                frames.append(arr)
            out.append(encode_vid0(frames))
        return pd.Series(out)

    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    vids = docs.select(
        F.col("doc_id").cast("string").alias("video_id"),
        mkvid("doc_id").alias("bytes"),
        F.lit("vid0").alias("fmt"),
    )
    frames = sample_frames(vids, every=2)
    feats = image_features(
        frames.select(
            F.concat_ws("#", "video_id", "frame_idx").alias("image_id"), "bytes", "fmt"
        )
    )
    return feats.select("image_id", "w", "h", "mean_r")


SQL_MM_FRAMES = """
SELECT doc_id::VARCHAR || '#' || i AS image_id,
       (4 + doc_id % 3)::INT AS w, (2 + doc_id % 2)::INT AS h,
       ((doc_id + i) % 256)::DOUBLE AS mean_r
FROM documents, (SELECT unnest(range(4)) AS i)
WHERE doc_id < 200 AND i < 1 + doc_id % 4 AND i % 2 = 0
"""


def q_mm_jpeg_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal over JPEG: constant-color images encoded with the pure-numpy
    baseline T.81 codec (functions/jpegcodec.py), decoded + feature-extracted
    through the same Arrow mapInPandas path as every other payload format.
    Constant blocks are DC-only, so the decoded value is the closed-form
    quantize/dequantize/color-convert chain — which the oracle replays in
    DOUBLE SQL arithmetic, term order matched to the numpy float64 ops.
    Odd doc_ids encode at 4:2:0 (the real-web subsampling): a constant plane
    is exact under 2x2 box-downsample, MCU interleave and the triangular
    chroma upsample, so the SAME closed-form chain certifies the subsampled
    decode path against the SQL oracle. doc_id % 4 in (2, 3) rows encode
    PROGRESSIVE (SOF2, encode_jpeg_progressive): the successive-approximation
    script ends at Al=0, restoring every coefficient exactly, so the
    identical closed-form oracle also value-certifies the progressive decode
    path (both subsamplings)."""
    from pyspark.sql.functions import pandas_udf

    from sher_look_spark.operators.multimodal import image_features

    @pandas_udf(T.BinaryType())
    def mkjpeg(ids: pd.Series) -> pd.Series:
        import numpy as np

        from sher_look_spark.functions.jpegcodec import (
            encode_jpeg,
            encode_jpeg_progressive,
        )

        out = []
        for d in ids:
            w, h = 8 + d % 9, 8 + d % 7  # non-multiples of 8 exercise padding
            arr = np.zeros((h, w, 3), dtype=np.uint8)
            arr[:, :, 0] = d % 256
            arr[:, :, 1] = (3 * d) % 256
            arr[:, :, 2] = (7 * d + 11) % 256
            sub = "420" if d % 2 else "444"
            enc = encode_jpeg_progressive if d % 4 >= 2 else encode_jpeg
            out.append(enc(arr, quality=90, subsampling=sub))
        return pd.Series(out)

    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    jpegs = docs.select(
        F.col("doc_id").cast("string").alias("image_id"),
        mkjpeg("doc_id").alias("bytes"),
        F.lit("jpeg").alias("fmt"),
    )
    feats = image_features(jpegs)
    return feats.select("image_id", "w", "h", "mean_r", "mean_g", "mean_b")


def sql_mm_jpeg(quality: int = 90) -> str:
    from sher_look_spark.functions.jpegcodec import QT_CHROMA, QT_LUMA, quality_scaled

    qy = int(quality_scaled(QT_LUMA, quality)[0, 0])
    qc = int(quality_scaled(QT_CHROMA, quality)[0, 0])
    return f"""
WITH px AS (
  SELECT doc_id,
         (doc_id % 256)::DOUBLE AS r,
         ((3 * doc_id) % 256)::DOUBLE AS g,
         ((7 * doc_id + 11) % 256)::DOUBLE AS b
  FROM documents WHERE doc_id < 200
),
ycc AS (
  SELECT doc_id,
         r * 0.299 + g * 0.587 + b * 0.114 AS y,
         r * -0.168736 + g * -0.331264 + b * 0.5 + 128.0 AS cb,
         r * 0.5 + g * -0.418688 + b * -0.081312 + 128.0 AS cr
  FROM px
),
rec AS (
  -- quantize -> dequantize the DC-only block (F00 = 8*(v-128)), then the
  -- decoder's +128 level unshift; cb2/cr2 are already centered (-128)
  SELECT doc_id,
         floor((y - 128.0) * 8.0 / {qy} + 0.5) * {qy} / 8.0 + 128.0 AS y2,
         floor((cb - 128.0) * 8.0 / {qc} + 0.5) * {qc} / 8.0 AS cb2,
         floor((cr - 128.0) * 8.0 / {qc} + 0.5) * {qc} / 8.0 AS cr2
  FROM ycc
)
SELECT doc_id::VARCHAR AS image_id,
       (8 + doc_id % 9)::INT AS w, (8 + doc_id % 7)::INT AS h,
       least(greatest(floor(y2 + 1.402 * cr2 + 0.5), 0.0), 255.0) AS mean_r,
       least(greatest(floor(y2 - 0.344136 * cb2 - 0.714136 * cr2 + 0.5), 0.0), 255.0) AS mean_g,
       least(greatest(floor(y2 + 1.772 * cb2 + 0.5), 0.0), 255.0) AS mean_b
FROM rec
"""

def q_i4_tokenize_positions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I4: tokenizer with kept-only positions over the documents corpus."""
    return _spark_tokens(spark, sf_dir).select("doc_id", "word", "position")


def sql_i4() -> str:
    return f"WITH {_sql_tokens_cte()} SELECT doc_id, word, position FROM tokens"


def q_i9_doc_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I9: kept-token count per document (TF denominator)."""
    from sher_look_spark.operators.indexer import document_sizes

    return document_sizes(_spark_tokens(spark, sf_dir))


def sql_i9() -> str:
    return (
        f"WITH {_sql_tokens_cte()} "
        "SELECT doc_id, count(*) AS document_size FROM tokens GROUP BY doc_id"
    )


def q_i11_idf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I11: idf = ln(N/df + 1), rounded for cross-engine hash equality."""
    from sher_look_spark.operators.indexer import idf_table

    docs = load(spark, sf_dir, "documents")
    toks = _spark_tokens(spark, sf_dir)
    idf = idf_table(toks, n_docs=docs.count())
    return idf.select("word", "df", F.round("idf", 6).alias("idf"))


def sql_i11() -> str:
    return f"""
WITH {_sql_tokens_cte()}
SELECT word, count(DISTINCT doc_id) AS df,
       round(ln((SELECT count(*) FROM documents)::DOUBLE / count(DISTINCT doc_id) + 1), 6) AS idf
FROM tokens GROUP BY word
"""


def _synth_html_col():
    """Deterministic per-doc HTML: even doc_ids carry <title>+<meta>, odd ones
    rely on the reference's h1/p fallbacks (Indexer.java:50-63)."""
    sid = F.col("doc_id").cast("string")
    head = F.when(
        F.col("doc_id") % 2 == 0,
        F.concat(
            F.lit("<title>Title "), sid, F.lit('</title><meta name="description" content="Meta '),
            F.col("source"), F.lit('">'),
        ),
    ).otherwise(F.lit(""))
    return F.concat(
        F.lit("<html><head>"), head, F.lit("</head><body><h1>Head "), sid,
        F.lit("</h1><p>para "), F.col("source"), F.lit(" "), sid,
        F.lit("</p></body></html>"),
    )


def q_i2_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I2: title/description extraction with the reference's fallbacks (title
    -> first h1..h6, description -> first <p>; Indexer.java:50-63) — the real
    HTML tree parser runs as an Arrow-batched UDF over synthesized pages."""
    from sher_look_spark.operators.webindex import _parse_udf

    docs = load(spark, sf_dir, "documents")
    parsed = docs.select("doc_id", _parse_udf()(_synth_html_col()).alias("p"))
    return parsed.select(
        "doc_id", F.col("p.title").alias("title"), F.col("p.description").alias("description")
    )


SQL_I2 = """
SELECT doc_id,
       CASE WHEN doc_id % 2 = 0 THEN 'Title ' || doc_id ELSE 'Head ' || doc_id END AS title,
       CASE WHEN doc_id % 2 = 0 THEN 'Meta ' || source
            ELSE 'para ' || source || ' ' || doc_id END AS description
FROM documents
"""


def q_i3_sections(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I3: section segmentation — title tokenized first, h1-h6 -> 'header',
    other own-text elements -> 'body' (Indexer.java:78-92)."""
    from sher_look_spark.operators.webindex import _parse_udf

    docs = load(spark, sf_dir, "documents")
    parsed = docs.select("doc_id", _parse_udf()(_synth_html_col()).alias("p"))
    return parsed.select("doc_id", F.posexplode("p.sections").alias("sec_ord", "s")).select(
        "doc_id", "sec_ord", F.col("s.sec").alias("section"), F.col("s.txt").alias("txt")
    )


SQL_I3 = """
SELECT doc_id, sec_ord, section,
       CASE sec_ord
         WHEN 0 THEN CASE WHEN doc_id % 2 = 0 THEN 'Title ' || doc_id ELSE 'Head ' || doc_id END
         WHEN 1 THEN 'Head ' || doc_id
         ELSE 'para ' || source || ' ' || doc_id
       END AS txt
FROM documents,
     (VALUES (0, 'title'), (1, 'header'), (2, 'body')) AS secs(sec_ord, section)
"""


# Fixed word list for the Porter-stemmer UDF check: reference goldens
# (DatabaseHelperTests.java:179-181) plus the classic Porter-paper vocabulary.
# The oracle embeds stems precomputed by the same public-domain algorithm at
# SQL-generation time — the check pins the distributed Arrow-UDF path; the
# algorithm itself is pinned by reference goldens in tests/test_text.py.
STEM_WORDS = (
    "flies swimming caresses ponies ties caress cats feed agreed plastered bled "
    "motoring sing conflated troubled sized hopping tanned falling hissing fizzed "
    "failing filing happy sky relational conditional rational valenci hesitanci "
    "digitizer communism feudalism adoption adjustable defensible irritant "
    "replacement adjustment dependent activate demonstrate generalization "
    "oscillators probate rate cease controll roll searching crawling indexed"
).split()


def q_i6_porter_stems(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sher_look_spark.functions.text import porter_stem_udf

    df = spark.createDataFrame([(w,) for w in STEM_WORDS], "word string")
    return df.select("word", porter_stem_udf("word").alias("stem"))


def sql_i6() -> str:
    from sher_look_spark.functions.porter import porter_stem

    vals = ", ".join(f"('{w}', '{porter_stem(w)}')" for w in STEM_WORDS)
    return f"SELECT word, stem FROM (VALUES {vals}) AS t(word, stem)"


def q_i7_word_dictionary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I7: the word dictionary with global occurrence counts
    (DatabaseHelper.java:171-236); surrogate xxhash64 ids are engine-internal
    and excluded from the cross-engine comparison."""
    from sher_look_spark.operators.indexer import word_dictionary

    return word_dictionary(_spark_tokens(spark, sf_dir)).select("word", "count")


def sql_i7() -> str:
    return f"WITH {_sql_tokens_cte()} SELECT word, count(*) AS count FROM tokens GROUP BY word"


def q_i1_unindexed_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I1: `index_time IS NULL` scan (DatabaseHelper.java:122-135) over a
    synthesized index_time column (every 3rd doc unindexed)."""
    docs = load(spark, sf_dir, "documents").withColumn(
        "index_time",
        F.when(F.col("doc_id") % 3 == 0, F.lit(None).cast("timestamp")).otherwise(
            F.lit("2026-01-01 00:00:00").cast("timestamp")
        ),
    )
    return docs.filter(F.col("index_time").isNull()).select("doc_id", "n_chars")


SQL_I1 = """
SELECT doc_id, n_chars FROM documents WHERE doc_id % 3 = 0
"""


def q_i8_postings_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I8: postings batch insert — write the postings fact table to parquet
    through the snapshot store and read it back; the value check certifies the
    persisted bytes, not just the in-memory frame (DatabaseHelper.java:238-262)."""
    import tempfile

    from sher_look_spark.crawler.storage import SnapshotStore

    toks = _spark_tokens(spark, sf_dir).select("doc_id", "word", "position")
    store = SnapshotStore(tempfile.mkdtemp(prefix="postings-rt-"))
    rel = store.stage_write(toks, "postings", 0)
    store.commit(appends={"postings": [rel]})
    return store.read(spark, "postings")


# ---------------------------------------------------------------- query/rank

def q_q4_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q4: TF-IDF scores for a fixed keyword query over the corpus."""
    from sher_look_spark.operators.indexer import idf_table
    from sher_look_spark.operators.ranking import tfidf_scores_onepass

    docs = load(spark, sf_dir, "documents")
    toks = _spark_tokens(spark, sf_dir).withColumn("section", F.lit("body"))
    # idf restricted to the query terms BEFORE the df aggregation: only the
    # query terms' idf rows can ever reach the scorer (missing -> default),
    # and per-word df is unchanged by dropping other words — so the result
    # is identical while the countDistinct pass shrinks from the whole
    # corpus to the terms' postings (guide §2.3: don't compute what you
    # throw away). The one-pass scorer folds doc sizes + per-term weighted
    # freqs into a single per-doc aggregation (1 exchange; was 3).
    idf = idf_table(toks.filter(F.col("word").isin(QUERY_TERMS)), n_docs=docs.count())
    scores = tfidf_scores_onepass(toks, idf, QUERY_TERMS)
    return scores.select("doc_id", F.round("tfidf", 6).alias("tfidf"))


def sql_q4() -> str:
    terms = ", ".join(f"'{t}'" for t in QUERY_TERMS)
    return f"""
WITH {_sql_tokens_cte()},
sizes AS (SELECT doc_id, count(*) AS document_size FROM tokens GROUP BY doc_id),
idf AS (
  SELECT word, ln((SELECT count(*) FROM documents)::DOUBLE / count(DISTINCT doc_id) + 1) AS idf
  FROM tokens GROUP BY word
),
freqs AS (
  SELECT doc_id, word, count(*) AS freq FROM tokens WHERE word IN ({terms})
  GROUP BY doc_id, word
)
SELECT f.doc_id, round(sum(f.freq::DOUBLE / s.document_size * i.idf), 6) AS tfidf
FROM freqs f JOIN sizes s USING (doc_id) JOIN idf i USING (word)
GROUP BY f.doc_id
"""


def q_q7_boolean_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q7: doc-id set algebra — (docs∋spark ∩ docs∋merge) \\ docs∋slow."""
    toks = _spark_tokens(spark, sf_dir)

    def docs_with(word):
        return toks.filter(F.col("word") == word).select("doc_id").distinct()

    return docs_with("spark").intersect(docs_with("merge")).exceptAll(docs_with("slow"))


def sql_q7() -> str:
    return f"""
WITH {_sql_tokens_cte()}
SELECT DISTINCT doc_id FROM tokens WHERE word = 'spark'
INTERSECT
SELECT DISTINCT doc_id FROM tokens WHERE word = 'merge'
EXCEPT
SELECT DISTINCT doc_id FROM tokens WHERE word = 'slow'
"""


# Fixed query list for the Q1 parser check: phrase/operator/keyword modes,
# stop-word drops, phrase-count truncation, case folding
# (QueryProcessor.java:34-136). The oracle embeds parse results computed at
# SQL-generation time by the same driver-side parser — the check pins the
# distributed Arrow-UDF plumbing (the i6_porter_stems pattern); the parse
# SEMANTICS are pinned against reference goldens in tests/test_query_parse.py.
PARSE_QUERIES = [
    "machine learning systems",
    "  The quick BROWN fox  ",
    "running runs ran",
    '"big data"',
    '"big data" AND "fast queries"',
    '"web search" OR "page rank"',
    '"alpha beta" NOT "gamma delta"',
    '"one two" AND "three" OR "four five"',
    '"a1" AND "b2" OR "c3" NOT "d4"',
    "spark-sql: merge, vectors!",
    "the and of",
    '"Mixed CASE Phrase"',
]


def q_q1_query_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q1: query parsing (mode detect, quoted phrases <=3, operators <=2,
    keyword tokenize+stem with stop-word drop) run as an Arrow-batched UDF
    over a query column — the distributed form of QueryProcessor.processQuery."""
    from pyspark.sql.functions import pandas_udf

    from sher_look_spark.operators.query_parse import parse_query

    out_schema = T.StructType(
        [
            T.StructField("is_phrase", T.BooleanType()),
            T.StructField("terms", T.StringType()),
            T.StructField("stems", T.StringType()),
            T.StructField("phrases", T.StringType()),
            T.StructField("operators", T.StringType()),
        ]
    )

    @pandas_udf(out_schema)
    def parse(queries_s: pd.Series) -> pd.DataFrame:
        rows = []
        for q in queries_s:
            p = parse_query(q)
            rows.append(
                {
                    "is_phrase": p.is_phrase,
                    "terms": " ".join(p.tokens),
                    "stems": " ".join(p.stems),
                    "phrases": "|".join(p.phrases),
                    "operators": ",".join(str(o) for o in p.operators),
                }
            )
        return pd.DataFrame(rows)

    df = spark.createDataFrame(
        [(i, q) for i, q in enumerate(PARSE_QUERIES)], "query_id int, query string"
    )
    parsed = df.select("query_id", parse("query").alias("p"))
    return parsed.select(
        "query_id", "p.is_phrase", "p.terms", "p.stems", "p.phrases", "p.operators"
    )


def sql_q1() -> str:
    from sher_look_spark.operators.query_parse import parse_query

    vals = []
    for i, q in enumerate(PARSE_QUERIES):
        p = parse_query(q)
        esc = lambda s: s.replace("'", "''")  # noqa: E731
        vals.append(
            f"({i}, {str(p.is_phrase).upper()}, '{esc(' '.join(p.tokens))}', "
            f"'{esc(' '.join(p.stems))}', '{esc('|'.join(p.phrases))}', "
            f"'{','.join(str(o) for o in p.operators)}')"
        )
    return (
        "SELECT * FROM (VALUES "
        + ", ".join(vals)
        + ") AS t(query_id, is_phrase, terms, stems, phrases, operators)"
    )


# 8 fixed steps discriminate fully (dangling/damping/join errors diverge by
# step 2 and compound); tol=0 makes operators.ranking.pagerank run exactly
# that many steps, with no convergence break.
PAGERANK_ORACLE_ITERS = 8


def q_q8_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q8: PageRank on a 25-node graph derived from orders, run for a FIXED
    8 iterations (tol=0 disables the convergence break) so a non-recursive
    chained-CTE DuckDB oracle can replay the identical power iteration —
    dangling redistribution included (Ranker.java:128-187). The reference's
    converge-and-return-previous quirk is pinned by tests/test_ranking.py."""
    from sher_look_spark.operators.ranking import pagerank

    orders = load(spark, sf_dir, "orders")
    edges = (
        orders.select(
            (F.col("o_custkey") % 25).alias("src"), (F.col("o_orderkey") % 25).alias("dst")
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    verts = spark.range(25).select(F.col("id").cast("long").alias("id"))
    pr = pagerank(spark, verts, edges, tol=0.0, max_iter=PAGERANK_ORACLE_ITERS)
    return pr.select("id", F.round("rank", 6).alias("rank"))


def sql_q8(iters: int = PAGERANK_ORACLE_ITERS, damping: float = 0.85) -> str:
    """Chained-CTE power iteration: it{k} computes rank step k from it{k-1};
    each step redistributes the previous iterate's dangling mass uniformly —
    byte-for-byte the formula in operators/ranking.pagerank."""
    # MATERIALIZED: each iteration references edges/deg — without it DuckDB
    # inlines the parquet scan per reference and exhausts file handles.
    head = """
WITH edges AS MATERIALIZED (
  SELECT DISTINCT o_custkey % 25 AS src, o_orderkey % 25 AS dst
  FROM orders WHERE o_custkey % 25 <> o_orderkey % 25
),
verts AS (SELECT unnest(range(25)) AS id),
deg AS MATERIALIZED (
  SELECT v.id, coalesce(d.cnt, 0) AS out_degree
  FROM verts v LEFT JOIN (SELECT src AS id, count(*) AS cnt FROM edges GROUP BY src) d USING (id)
),
it0 AS (SELECT id, out_degree, 1.0/25 AS rank FROM deg)"""
    steps = []
    for k in range(1, iters + 1):
        steps.append(f"""
it{k} AS MATERIALIZED (
  SELECT d.id, d.out_degree,
         (1.0 - {damping!r})/25 + {damping!r} * (coalesce(s.insum, 0.0) + dang.m/25) AS rank
  FROM deg d
  CROSS JOIN (SELECT coalesce(sum(rank), 0.0) AS m FROM it{k - 1} WHERE out_degree = 0) dang
  LEFT JOIN (SELECT e.dst AS id, sum(p.rank / p.out_degree) AS insum
             FROM it{k - 1} p JOIN edges e ON e.src = p.id GROUP BY e.dst) s USING (id)
)""")
    return (
        head + "," + ",".join(steps)
        + f"\nSELECT id, round(rank, 6) AS rank FROM it{iters}"
    )


def _sql_phrase_cte(phrase: list[str]) -> str:
    """Positions self-join: term_i at start+i for every i (Ranker.java:252-312)."""
    joins = []
    for i, t in enumerate(phrase[1:], start=1):
        joins.append(
            f"JOIN tokens t{i} ON t{i}.doc_id = t0.doc_id AND t{i}.word = '{t}' "
            f"AND t{i}.position = t0.position + {i}"
        )
    return (
        "phrase_docs AS (\n"
        f"  SELECT DISTINCT t0.doc_id FROM tokens t0 {' '.join(joins)}\n"
        f"  WHERE t0.word = '{phrase[0]}'\n)"
    )


PHRASE = ["merge", "column"]  # bigram with real support in the synth corpus


def q_q5_phrase_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q5: docs where the phrase terms occur consecutively within a section —
    equi-join chain on (doc, section, position - i), no UDF."""
    from sher_look_spark.operators.ranking import phrase_match

    toks = _spark_tokens(spark, sf_dir).withColumn("section", F.lit("body"))
    return phrase_match(toks, PHRASE)


def sql_q5() -> str:
    return f"WITH {_sql_tokens_cte()}, {_sql_phrase_cte(PHRASE)} SELECT doc_id FROM phrase_docs"


def q_q6_phrase_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q6: phrase scoring = TF-IDF shape over the phrase-matching docs, but a
    term missing from the idf table defaults to 1.0 (Ranker.java:319), not 0.0
    (:89). The idf table is restricted to the first phrase term so the second
    term actually exercises the 1.0 default."""
    from sher_look_spark.operators.indexer import document_sizes, idf_table
    from sher_look_spark.operators.ranking import phrase_match, tfidf_scores

    docs = load(spark, sf_dir, "documents")
    toks = _spark_tokens(spark, sf_dir).withColumn("section", F.lit("body"))
    matched = phrase_match(toks, PHRASE)
    toks_m = toks.join(matched, "doc_id", "left_semi")
    sizes = document_sizes(toks)
    # df aggregation over PHRASE[0]'s postings only — identical idf row,
    # without a corpus-wide countDistinct (the .filter kept only this row)
    idf = idf_table(toks.filter(F.col("word") == PHRASE[0]), n_docs=docs.count())
    scores = tfidf_scores(toks_m, sizes, idf, PHRASE, missing_idf_default=1.0)
    return scores.select("doc_id", F.round(F.col("tfidf"), 6).alias("phrase_score"))


def sql_q6() -> str:
    terms = ", ".join(f"'{t}'" for t in PHRASE)
    return f"""
WITH {_sql_tokens_cte()}, {_sql_phrase_cte(PHRASE)},
sizes AS (SELECT doc_id, count(*) AS document_size FROM tokens GROUP BY doc_id),
idf AS (
  SELECT word, ln((SELECT count(*) FROM documents)::DOUBLE / count(DISTINCT doc_id) + 1) AS idf
  FROM tokens WHERE word = '{PHRASE[0]}' GROUP BY word
),
freqs AS (
  SELECT t.doc_id, t.word, count(*) AS freq FROM tokens t
  JOIN phrase_docs p ON p.doc_id = t.doc_id
  WHERE t.word IN ({terms}) GROUP BY t.doc_id, t.word
)
SELECT f.doc_id,
       round(sum(f.freq::DOUBLE / s.document_size * coalesce(i.idf, 1.0)), 6) AS phrase_score
FROM freqs f JOIN sizes s USING (doc_id) LEFT JOIN idf i USING (word)
GROUP BY f.doc_id
"""


# Synthetic-but-deterministic pagerank column for the blend/pagination checks:
# rank = (doc_id % 10)/10 for docs with doc_id % 3 <> 0; the remaining docs
# exercise blend_scores' missing-pagerank coalesce-to-0 path.
def _synth_pr(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return docs.filter(F.col("doc_id") % 3 != 0).select(
        F.col("doc_id").alias("id"), ((F.col("doc_id") % 10) / 10.0).alias("rank")
    )


SQL_SYNTH_PR = """
pr AS (
  SELECT doc_id AS id, (doc_id % 10) / 10.0 AS rank FROM documents WHERE doc_id % 3 <> 0
)"""


def _blended(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sher_look_spark.operators.indexer import idf_table
    from sher_look_spark.operators.ranking import blend_scores, tfidf_scores_onepass

    docs = load(spark, sf_dir, "documents")
    toks = _spark_tokens(spark, sf_dir).withColumn("section", F.lit("body"))
    # same query-term idf pruning + one-pass scorer as q4 (see q_q4_tfidf)
    idf = idf_table(toks.filter(F.col("word").isin(QUERY_TERMS)), n_docs=docs.count())
    scores = tfidf_scores_onepass(toks, idf, QUERY_TERMS)
    return blend_scores(scores, _synth_pr(spark, sf_dir))


def _sql_blend_ctes() -> str:
    terms = ", ".join(f"'{t}'" for t in QUERY_TERMS)
    return f"""{_sql_tokens_cte()},
sizes AS (SELECT doc_id, count(*) AS document_size FROM tokens GROUP BY doc_id),
idf AS (
  SELECT word, ln((SELECT count(*) FROM documents)::DOUBLE / count(DISTINCT doc_id) + 1) AS idf
  FROM tokens GROUP BY word
),
freqs AS (
  SELECT doc_id, word, count(*) AS freq FROM tokens WHERE word IN ({terms})
  GROUP BY doc_id, word
),
tfidf AS (
  SELECT f.doc_id, sum(f.freq::DOUBLE / s.document_size * i.idf) AS tfidf
  FROM freqs f JOIN sizes s USING (doc_id) JOIN idf i USING (word)
  GROUP BY f.doc_id
),
{SQL_SYNTH_PR},
blended AS (
  SELECT t.doc_id, 0.7 * t.tfidf + 0.3 * coalesce(p.rank, 0.0) AS final_score
  FROM tfidf t LEFT JOIN pr p ON p.id = t.doc_id
)"""


def q_q9_blend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q9: final = 0.7*tfidf + 0.3*pagerank with missing pagerank -> 0
    (Ranker.java:27-28, 376-388)."""
    return _blended(spark, sf_dir).select(
        "doc_id", F.round("final_score", 6).alias("final_score")
    )


def sql_q9() -> str:
    return f"""
WITH {_sql_blend_ctes()}
SELECT doc_id, round(final_score, 6) AS final_score FROM blended
"""


def q_q10_pagination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q10: page 2 (offset 10, 10/page) of the blended ranking, deterministic
    (score desc, doc_id) order — TakeOrderedAndProject plan, no full-data
    single-partition window (Ranker.java:623-637)."""
    from sher_look_spark.operators.ranking import paginate

    page = paginate(
        _blended(spark, sf_dir), page=2, per_page=10,
        order=[F.desc("final_score"), F.col("doc_id")],
    )
    return page.select("doc_id", F.round("final_score", 6).alias("final_score"))


def sql_q10() -> str:
    return f"""
WITH {_sql_blend_ctes()},
ranked AS (
  SELECT doc_id, final_score,
         row_number() OVER (ORDER BY final_score DESC, doc_id) AS pos
  FROM blended
)
SELECT doc_id, round(final_score, 6) AS final_score
FROM ranked WHERE pos > 10 AND pos <= 20
"""


def q_q11_snippets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q11 with the reference's per-term-window semantics: the earliest hit of
    EACH query term opens its own ±15 window; windows merge per doc; trailing
    ' ...'; docs without hits fall back to a description column. Multi-term so
    the oracle discriminates (a single combined-min window would differ)."""
    from sher_look_spark.operators.ranking import snippets

    docs = load(spark, sf_dir, "documents").select(
        "doc_id", F.concat(F.lit("src="), F.col("source")).alias("description")
    )
    toks = _spark_tokens(spark, sf_dir).withColumn("section", F.lit("body"))
    return snippets(toks, ["spark", "vector"], window=15, docs=docs)


def sql_q11() -> str:
    return f"""
WITH {_sql_tokens_cte()},
hits AS (
  SELECT doc_id, word, min(position) AS hit FROM tokens
  WHERE word IN ('spark', 'vector') GROUP BY doc_id, word
),
ctx AS (
  SELECT DISTINCT t.doc_id, t.position, t.word
  FROM tokens t JOIN hits h ON t.doc_id = h.doc_id
  WHERE t.position BETWEEN greatest(0, h.hit - 15) AND h.hit + 15
),
snip AS (
  SELECT doc_id,
         string_agg(
           CASE WHEN word IN ('spark', 'vector') THEN '<b>' || word || '</b>' ELSE word END,
           ' ' ORDER BY position
         ) || ' ...' AS snippet
  FROM ctx GROUP BY doc_id
)
SELECT d.doc_id, coalesce(s.snippet, 'src=' || d.source) AS snippet
FROM documents d LEFT JOIN snip s ON d.doc_id = s.doc_id
"""


# ------------------------------------------------------------ dedup / simhash

def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-gram Jaccard similarity pairs over a doc subset (exact, oracle-checked).

    Threshold 0.02 / doc window 200 yields ~70 pairs at the driver's checked
    sf0.01 (incl. the near-dup trio >0.95) — a non-vacuous result set. The
    threshold filter compares the identical IEEE-double ratio of exact integer
    counts on both engines, so boundary pairs cannot diverge."""
    from sher_look_spark.operators.dedup import ngram_jaccard_pairs

    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    # max_doc_freq=50 exercises the hot-shingle cap (the web-scale guard
    # against quadratic buckets); the oracle mirrors the cap exactly
    pairs = ngram_jaccard_pairs(docs, n=3, threshold=0.02, max_doc_freq=50)
    return pairs.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


def sql_dedup_ngram_jaccard() -> str:
    return f"""
WITH {SQL_RAWTOK_CTE},
toklists AS (
  SELECT doc_id, list(word ORDER BY position) AS toks FROM rawtok
  WHERE doc_id < 200 GROUP BY doc_id
),
shingles AS (
  SELECT DISTINCT doc_id, unnest(list_transform(range(1, len(toks) - 1),
         i -> array_to_string(list_slice(toks, i, i + 2), ' '))) AS shingle
  FROM toklists WHERE len(toks) >= 3
),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM shingles GROUP BY doc_id),
rare AS (
  SELECT shingle FROM shingles GROUP BY shingle HAVING count(*) <= 50
),
capped AS (SELECT s.* FROM shingles s JOIN rare USING (shingle)),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
  FROM capped a JOIN capped b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT id_a, id_b,
       round(i::DOUBLE / (sa.n_sh + sb.n_sh - i), 6) AS jaccard
FROM inter JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
WHERE i::DOUBLE / (sa.n_sh + sb.n_sh - i) >= 0.02
"""


def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH candidate pairs, fully value-checked: signatures are
    min-of-salted-sha256-hex slots (computable identically in DuckDB), LSH
    banding joins on the band slice itself.

    The corpus is augmented with deterministic near-duplicates — every 10th
    doc reappears as doc_id+100000 with three words appended — so the LSH
    band join and the signature-similarity verify stage process real
    surviving pairs AT EVERY SCALE (the natural sf0.1 corpus yields zero
    pairs under doc_id < 200, which timed signature computation only). The
    identical augmentation runs in the SQL oracle, so every emitted pair
    stays value-checked."""
    from sher_look_spark.operators.dedup import minhash_lsh_pairs, minhash_signatures

    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 200).select(
        "doc_id", "text"
    )
    variants = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" nearly duplicate copy")).alias("text"),
    )
    # the probe corpus is a fixed ~220 rows in 2-4 parquet splits; spread it
    # to cluster width so the per-doc signature hashing uses every core
    # (signatures are computed per row — partitioning cannot change values)
    corpus = docs.unionByName(variants).repartition(
        spark.sparkContext.defaultParallelism
    )
    sigs = minhash_signatures(corpus, num_hashes=32)
    return minhash_lsh_pairs(sigs, bands=16).select(
        "id_a", "id_b", F.round("est_jaccard", 6).alias("est_jaccard")
    )


def sql_dedup_minhash() -> str:
    return """
WITH corpus AS (
  SELECT doc_id, text FROM documents WHERE doc_id < 200
  UNION ALL
  SELECT doc_id + 100000, text || ' nearly duplicate copy' FROM documents
  WHERE doc_id < 200 AND doc_id % 10 = 0
),
rawtok AS (
  SELECT doc_id, word,
         row_number() OVER (PARTITION BY doc_id ORDER BY ord) AS position
  FROM (
    SELECT doc_id,
           unnest(regexp_split_to_array(lower(text), '\\W+')) AS word,
           generate_subscripts(regexp_split_to_array(lower(text), '\\W+'), 1) AS ord
    FROM corpus
  )
  WHERE word <> ''
),
toklists AS (
  SELECT doc_id, list(word ORDER BY position) AS toks FROM rawtok
  GROUP BY doc_id
),
shingles AS MATERIALIZED (
  SELECT doc_id, unnest(list_transform(range(1, len(toks) - 1),
         i -> array_to_string(list_slice(toks, i, i + 2), ' '))) AS shingle
  FROM toklists WHERE len(toks) >= 3
),
slots AS (
  SELECT doc_id, p.i, min(substr(sha256('mh42|' || p.i || '|' || shingle), 1, 16)) AS slot
  FROM shingles CROSS JOIN (SELECT unnest(range(32)) AS i) p
  GROUP BY doc_id, p.i
),
sigs AS MATERIALIZED (SELECT doc_id, list(slot ORDER BY i) AS sig FROM slots GROUP BY doc_id),
bands AS MATERIALIZED (
  SELECT doc_id, b.b, array_to_string(list_slice(sig, b.b * 2 + 1, b.b * 2 + 2), '-') AS bucket
  FROM sigs CROSS JOIN (SELECT unnest(range(16)) AS b) b
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b ON a.b = b.b AND a.bucket = b.bucket AND a.doc_id < b.doc_id
)
SELECT id_a, id_b,
       round(len(list_filter(list_transform(range(32), i -> sa.sig[i + 1] = sb.sig[i + 1]),
                             x -> x))::DOUBLE / 32, 6) AS est_jaccard
FROM cand JOIN sigs sa ON sa.doc_id = id_a JOIN sigs sb ON sb.doc_id = id_b
"""


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash per doc — 60-bit sha256-derived token hashes so the DuckDB
    oracle can replay the per-bit majority vote exactly."""
    from sher_look_spark.operators.dedup import simhash_table

    return simhash_table(load(spark, sf_dir, "documents"))


def sql_dedup_simhash() -> str:
    return f"""
WITH {SQL_RAWTOK_CTE},
th AS (SELECT doc_id, ('0x' || substr(sha256(word), 1, 15))::BIGINT AS h FROM rawtok),
bits AS (
  SELECT doc_id, b.b, sum(CASE WHEN (h >> b.b) & 1 = 1 THEN 1 ELSE -1 END) AS vote
  FROM th CROSS JOIN (SELECT unnest(range(60)) AS b) b GROUP BY doc_id, b.b
),
sh AS (
  SELECT doc_id, sum(CASE WHEN vote > 0 THEN (1::BIGINT << b) ELSE 0 END)::BIGINT AS simhash
  FROM bits GROUP BY doc_id
)
SELECT d.doc_id, coalesce(sh.simhash, 0)::BIGINT AS simhash
FROM documents d LEFT JOIN sh USING (doc_id)
"""


def q_dedup_simhash_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash banded hamming-neighbor pairs (bands=6 guarantees exact recall
    for hamming <= 5 by pigeonhole); the oracle is an INDEPENDENT brute-force
    all-pairs hamming scan, so equality certifies the banding's recall."""
    from sher_look_spark.operators.dedup import simhash_neighbor_pairs, simhash_table

    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    sim = simhash_table(docs)
    return simhash_neighbor_pairs(sim, bands=6, max_hamming=5)


def sql_dedup_simhash_neighbors() -> str:
    return f"""
WITH {SQL_RAWTOK_CTE},
th AS (
  SELECT doc_id, ('0x' || substr(sha256(word), 1, 15))::BIGINT AS h FROM rawtok
  WHERE doc_id < 300
),
bits AS (
  SELECT doc_id, b.b, sum(CASE WHEN (h >> b.b) & 1 = 1 THEN 1 ELSE -1 END) AS vote
  FROM th CROSS JOIN (SELECT unnest(range(60)) AS b) b GROUP BY doc_id, b.b
),
sh AS MATERIALIZED (
  SELECT doc_id, sum(CASE WHEN vote > 0 THEN (1::BIGINT << b) ELSE 0 END)::BIGINT AS simhash
  FROM bits GROUP BY doc_id
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       bit_count(xor(a.simhash, b.simhash)) AS hamming
FROM sh a JOIN sh b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 5
"""


# ---------------------------------------------------------------- similarity

def q_sim_topk_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 around the vec_id=0 query vector."""
    from sher_look_spark.operators.similarity import brute_force_topk

    emb = load(spark, sf_dir, "embeddings")
    q = [float(x) for x in emb.filter(F.col("vec_id") == 0).first().embedding]
    top = brute_force_topk(emb, q, k=10)
    return top.select("vec_id", F.round("cosine", 4).alias("cosine"))


SQL_SIM_TOPK = """
WITH q AS (SELECT embedding::DOUBLE[] AS e FROM embeddings WHERE vec_id = 0)
SELECT vec_id, round(list_cosine_similarity(embedding::DOUBLE[], (SELECT e FROM q)), 4) AS cosine
FROM embeddings
ORDER BY list_cosine_similarity(embedding::DOUBLE[], (SELECT e FROM q)) DESC, vec_id
LIMIT 10
"""


def q_sim_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cosine pairs >= 0.3 on vec_id < 150 THROUGH the scalable LSH operator
    (2 planes x 24 OR-tables: P(miss) ~ 3e-5 per true pair, deterministic
    hyperplanes). The oracle stays an exact all-pairs scan, so the equality
    check certifies the LSH candidate set's recall at the checked scale — not
    a throwaway crossJoin."""
    from sher_look_spark.operators.similarity import embedding_neardup_pairs

    emb = load(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 150)
    # dim=64 is the embeddings-table width at every sf (also hard-wired in
    # sql_sim_lsh_topk's oracle planes); passing it skips the .first()
    # driver action the operator would otherwise run just to learn it
    pairs = embedding_neardup_pairs(emb, threshold=0.3, n_planes=2, n_tables=24, dim=64)
    return pairs.select("id_a", "id_b", F.round("cosine", 4).alias("cosine"))


SQL_SIM_NEARDUP = """
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4) AS cosine
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE a.vec_id < 150 AND b.vec_id < 150
  AND list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.3
"""


def q_sim_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed ANN top-10 with hamming-1 multiprobe — value-checked: the
    oracle embeds the SAME seed-42 hyperplanes as SQL literals and replays
    bucket assignment + probe filter + cosine re-rank in DuckDB."""
    from sher_look_spark.operators.similarity import lsh_topk

    emb = load(spark, sf_dir, "embeddings")
    q = [float(x) for x in emb.filter(F.col("vec_id") == 0).first().embedding]
    top = lsh_topk(emb, q, k=10, n_planes=10, probe_hamming=1)
    return top.select("vec_id", F.round("cosine", 4).alias("cosine"))


def sql_sim_lsh_topk(dim: int = 64, n_planes: int = 10, seed: int = 42) -> str:
    from sher_look_spark.operators.similarity import _hyperplanes

    planes = _hyperplanes(dim, n_planes, seed)
    rows = ", ".join(
        f"({j}, [{', '.join(repr(float(x)) for x in planes[j])}]::DOUBLE[])"
        for j in range(n_planes)
    )
    return f"""
WITH planes(j, p) AS (SELECT * FROM (VALUES {rows}) t(j, p)),
b AS MATERIALIZED (
  SELECT vec_id, embedding,
         (SELECT sum(CASE WHEN list_dot_product(embedding::DOUBLE[], p.p) > 0
                          THEN (1::BIGINT << p.j) ELSE 0 END)::BIGINT
          FROM planes p) AS bucket
  FROM embeddings
),
q AS (SELECT bucket AS qbucket, embedding::DOUBLE[] AS qe FROM b WHERE vec_id = 0)
SELECT vec_id,
       round(list_cosine_similarity(embedding::DOUBLE[], (SELECT qe FROM q)), 4) AS cosine
FROM b
WHERE bit_count(xor(bucket, (SELECT qbucket FROM q))) <= 1
ORDER BY list_cosine_similarity(embedding::DOUBLE[], (SELECT qe FROM q)) DESC, vec_id
LIMIT 10
"""


# ----------------------------------------------------------------- text ops

def q_text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sher_look_spark.operators.textops import lang_id

    return load(spark, sf_dir, "documents").select(
        "doc_id", lang_id("text").alias("pred_lang")
    )


def sql_text_langid() -> str:
    from sher_look_spark.operators.textops import LANG_MARKERS

    score = {
        lang: (
            "(SELECT count(*) FROM unnest(regexp_split_to_array(lower(text), '\\W+')) AS u(w) "
            f"WHERE w IN ({', '.join(repr(x) for x in words)}))"
        )
        for lang, words in LANG_MARKERS.items()
    }
    langs = sorted(LANG_MARKERS)
    # strict argmax scan with alphabetical tie-break == operators.textops.lang_id
    expr = "'und'"
    best = "0"
    for lang in langs:
        expr = f"CASE WHEN {score[lang]} > {best} THEN '{lang}' ELSE {expr} END"
        best = f"greatest({score[lang]}, {best})"
    return f"SELECT doc_id, {expr} AS pred_lang FROM documents"


def q_text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sher_look_spark.operators.textops import token_count

    return load(spark, sf_dir, "documents").select(
        "doc_id", token_count("text").alias("n_tokens")
    )


SQL_TEXT_TOKEN_COUNT = """
SELECT doc_id,
       (SELECT count(*) FROM unnest(regexp_split_to_array(lower(text), '\\W+')) AS u(w)
        WHERE w <> '') AS n_tokens
FROM documents
"""


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sher_look_spark.operators.textops import quality_features

    return quality_features(load(spark, sf_dir, "documents"))


def sql_text_quality() -> str:
    from sher_look_spark.operators.textops import LANG_MARKERS

    en = ", ".join(repr(w) for w in LANG_MARKERS["en"])
    return f"""
WITH t AS (
  SELECT doc_id, text,
         length(text) AS n_chars,
         (SELECT count(*) FROM unnest(regexp_split_to_array(lower(text), '\\W+')) u(w)
          WHERE w <> '') AS n_tokens,
         (SELECT coalesce(sum(length(w)), 0) FROM unnest(regexp_split_to_array(lower(text), '\\W+')) u(w)
          WHERE w <> '') AS tok_chars,
         length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS n_punct,
         (SELECT count(*) FROM unnest(regexp_split_to_array(lower(text), '\\W+')) u(w)
          WHERE w IN ({en})) AS n_stop
  FROM documents
)
SELECT doc_id, n_chars, n_tokens,
       round(CASE WHEN n_tokens > 0 THEN tok_chars::DOUBLE / n_tokens ELSE 0.0 END, 4) AS mean_word_len,
       round(CASE WHEN n_chars > 0 THEN n_punct::DOUBLE / n_chars ELSE 0.0 END, 4) AS punct_ratio,
       round(CASE WHEN n_tokens > 0 THEN n_stop::DOUBLE / n_tokens ELSE 0.0 END, 4) AS stop_ratio,
       round(
         least(n_tokens::DOUBLE / 100.0, 1.0) * 0.4
         + least(CASE WHEN n_tokens > 0 THEN n_stop::DOUBLE / n_tokens ELSE 0.0 END * 5.0, 1.0) * 0.4
         + (1.0 - least(CASE WHEN n_chars > 0 THEN n_punct::DOUBLE / n_chars ELSE 0.0 END * 10.0, 1.0)) * 0.2,
       4) AS quality_score
FROM t
"""


def q_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sher_look_spark.operators.textops import fingerprint

    return load(spark, sf_dir, "documents").select(
        "doc_id", fingerprint("text", n=4).alias("fp")
    )


def sql_text_fingerprint() -> str:
    return f"""
WITH {SQL_RAWTOK_CTE},
toklists AS (SELECT doc_id, list(word ORDER BY position) AS toks FROM rawtok GROUP BY doc_id),
mins AS (
  SELECT d.doc_id,
         CASE WHEN t.toks IS NOT NULL AND len(t.toks) >= 4 THEN
           (SELECT min(substr(sha256(array_to_string(list_slice(t.toks, i.i, i.i + 3), ' ')), 1, 16))
            FROM (SELECT unnest(range(1, len(t.toks) - 2)) AS i) i)
         ELSE substr(sha256(d.text), 1, 16) END AS fp
  FROM documents d LEFT JOIN toklists t ON d.doc_id = t.doc_id
)
SELECT doc_id, fp FROM mins
"""


# ------------------------------------------------------------- relational

def q_rel_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scan+filter+agg surface (TPC-H Q1 shape) over lineitem."""
    li = load(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 4).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias("sum_disc_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


SQL_REL_PRICING = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 4) AS sum_qty,
       round(sum(l_extendedprice), 4) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price,
       round(avg(l_discount), 6) AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


def q_rel_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-way broadcast-join revenue rollup per region."""
    region = load(spark, sf_dir, "region")
    nation = load(spark, sf_dir, "nation")
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
    )


SQL_REL_REGION_REVENUE = """
SELECT r_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name
"""


def q_rel_running_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered running aggregate per user over the events stream table."""
    from pyspark.sql import Window

    events = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return events.select(
        "event_id",
        "user_id",
        F.round(F.sum("value").over(w), 4).alias("running_value"),
    )


SQL_REL_RUNNING = """
SELECT event_id, user_id,
       round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS running_value
FROM events
"""


# ------------------------------------------------------------------ registry

def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # Exactly 50 entries, cheap ones first: the round-3 driver emitted only
    # the first 50 of 51 registered keys (rel_running_window, the 51st in
    # dict order, got no CORRECTNESS row despite passing r1+r2 — see
    # VERDICT.md "What's missing" #2). The dropped key, dedup_exact, was a
    # byte-identical alias of c9_content_dedup (same callable, same oracle
    # SQL), so no operator lost its value check; exact dedup remains
    # certified by c9_content_dedup.
    return {
        "rel_pricing_summary": q_rel_pricing_summary,
        "rel_region_revenue": q_rel_region_revenue,
        "rel_running_window": q_rel_running_window,
        "c1_seed_ranks": q_c1_seed_ranks,
        "c2_budget_stop": q_c2_budget_stop,
        "c3_url_normalize": q_c3_url_normalize,
        "c4_seen_antijoin": q_c4_seen_antijoin,
        "c5_robots_parse": q_c5_robots_parse,
        "c6_robots_precedence": q_c6_robots_precedence,
        "c7_politeness_slots": q_c7_politeness_slots,
        "c8_fetch_captions": q_c8_fetch_captions,
        "c9_content_dedup": q_c9_content_dedup,
        "c10_link_canonicalize": q_c10_link_canonicalize,
        "c11_topk_children": q_c11_topk_children,
        "c13_resume": q_c13_resume,
        "c14_crawl_order": q_c14_crawl_order,
        "i1_unindexed_scan": q_i1_unindexed_scan,
        "i2_html_extract": q_i2_html_extract,
        "i3_sections": q_i3_sections,
        "i4_tokenize_positions": q_i4_tokenize_positions,
        "i6_porter_stems": q_i6_porter_stems,
        "i7_word_dictionary": q_i7_word_dictionary,
        "i8_postings_roundtrip": q_i8_postings_roundtrip,
        "i9_doc_sizes": q_i9_doc_sizes,
        "i11_idf": q_i11_idf,
        "q1_query_parse": q_q1_query_parse,
        "q4_tfidf": q_q4_tfidf,
        "q5_phrase_match": q_q5_phrase_match,
        "q6_phrase_score": q_q6_phrase_score,
        "q7_boolean_set_ops": q_q7_boolean_set_ops,
        "q8_pagerank": q_q8_pagerank,
        "q9_blend": q_q9_blend,
        "q10_pagination": q_q10_pagination,
        "q11_snippets": q_q11_snippets,
        "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
        "dedup_minhash_lsh": q_dedup_minhash,
        "dedup_simhash": q_dedup_simhash,
        "dedup_simhash_neighbors": q_dedup_simhash_neighbors,
        "sim_topk_cosine": q_sim_topk_cosine,
        "sim_neardup_pairs": q_sim_neardup_pairs,
        "sim_lsh_topk": q_sim_lsh_topk,
        "text_langid": q_text_langid,
        "text_token_count": q_text_token_count,
        "text_quality": q_text_quality,
        "text_fingerprint": q_text_fingerprint,
        "stream_windowed_counts": q_stream_windowed_counts,
        "mm_image_features": q_mm_image_features,
        "mm_resize_roundtrip": q_mm_resize_roundtrip,
        "mm_frame_sample": q_mm_frame_sample,
        "mm_jpeg_roundtrip": q_mm_jpeg_roundtrip,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "rel_pricing_summary": SQL_REL_PRICING,
        "rel_region_revenue": SQL_REL_REGION_REVENUE,
        "rel_running_window": SQL_REL_RUNNING,
        "c1_seed_ranks": SQL_C1,
        "c2_budget_stop": SQL_C2,
        "c3_url_normalize": SQL_C3,
        "c4_seen_antijoin": SQL_C4,
        "c5_robots_parse": SQL_C5,
        "c6_robots_precedence": SQL_C6,
        "c7_politeness_slots": SQL_C7,
        "c8_fetch_captions": sql_c8(),
        "c9_content_dedup": SQL_C9,
        "c10_link_canonicalize": SQL_C10,
        "c11_topk_children": SQL_C11,
        "c13_resume": _sql_crawl_order(),
        "c14_crawl_order": _sql_crawl_order(),
        "i1_unindexed_scan": SQL_I1,
        "i2_html_extract": SQL_I2,
        "i3_sections": SQL_I3,
        "i4_tokenize_positions": sql_i4(),
        "i6_porter_stems": sql_i6(),
        "i7_word_dictionary": sql_i7(),
        "i8_postings_roundtrip": sql_i4(),  # write->read-back must equal the source tokens
        "i9_doc_sizes": sql_i9(),
        "i11_idf": sql_i11(),
        "q1_query_parse": sql_q1(),
        "q4_tfidf": sql_q4(),
        "q5_phrase_match": sql_q5(),
        "q6_phrase_score": sql_q6(),
        "q7_boolean_set_ops": sql_q7(),
        "q8_pagerank": sql_q8(),
        "q9_blend": sql_q9(),
        "q10_pagination": sql_q10(),
        "q11_snippets": sql_q11(),
        "dedup_ngram_jaccard": sql_dedup_ngram_jaccard(),
        "dedup_minhash_lsh": sql_dedup_minhash(),
        "dedup_simhash": sql_dedup_simhash(),
        "dedup_simhash_neighbors": sql_dedup_simhash_neighbors(),
        "sim_topk_cosine": SQL_SIM_TOPK,
        "sim_neardup_pairs": SQL_SIM_NEARDUP,
        "sim_lsh_topk": sql_sim_lsh_topk(),
        "text_langid": sql_text_langid(),
        "text_token_count": SQL_TEXT_TOKEN_COUNT,
        "text_quality": sql_text_quality(),
        "text_fingerprint": sql_text_fingerprint(),
        "stream_windowed_counts": SQL_STREAM_WINDOWED,
        "mm_image_features": sql_mm_features(),
        "mm_resize_roundtrip": sql_mm_resize(),
        "mm_frame_sample": SQL_MM_FRAMES,
        "mm_jpeg_roundtrip": sql_mm_jpeg(),
    }
