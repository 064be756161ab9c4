"""Deduplication operators for training-data pipelines at 100 TB.

Beyond the reference's exact content-hash dedup (CrawlTask.java:116-128),
the engine ships the near-dup family a web-scale corpus needs: MinHash+LSH,
SimHash, and n-gram Jaccard. LSH banding, the pair verifies and the
n-gram Jaccard shingles are JVM-side array expressions (higher-order
functions over arrays — whole-stage codegen). Two steps run in Python over
Arrow batches: MinHash signatures (one `mapInArrow` stage that tokenizes,
shingles and hashes each document) and SimHash bit-counting (one numpy
pandas UDF).

Scale notes: LSH turns the O(n²) all-pairs problem into a band-bucket
shuffle (groupBy band_hash) + within-bucket verify; bucket skew is handled
by AQE; signatures are fixed-width arrays so shuffle rows stay small.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sher_look_spark.functions.text import tokens_column

def shingles_column(text_col: str, n: int = 3):
    """array<string> of word n-gram shingles (JVM-side, codegen).

    Shingles keep stop words (they are content for near-dup detection) but
    drop the empty boundary tokens \\W+ splitting produces.
    Guard: sequence(1, size-n+1) DESCENDS when size < n (Spark semantics),
    which would feed slice() invalid starts — short docs get no shingles.
    """
    toks = F.filter(tokens_column(text_col), lambda t: t != "")
    idx = F.sequence(F.lit(1), F.size(toks) - (n - 1))
    return F.when(
        F.size(toks) >= n,
        F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i, n))),
    ).otherwise(F.array().cast("array<string>"))


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup: canonical row = min id per sha256(text); emits
    (content_hash, canonical_id, dup_count)."""
    hashed = df.select(id_col, F.sha2(F.col(text_col), 256).alias("content_hash"))
    return hashed.groupBy("content_hash").agg(
        F.min(id_col).alias("canonical_id"), F.count(F.lit(1)).alias("dup_count")
    )


def minhash_signatures(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    num_hashes: int = 64, shingle: int = 3, seed: int = 42,
) -> DataFrame:
    """(id, signature array<string>) — min over per-permutation shingle hashes.

    Permutation i hashes each shingle with a salted sha256 and keeps the
    first 16 hex chars (64 bits). Fixed-width hex strings order
    exactly like their numeric value, so min-hex == min-int — and sha256 is
    computable identically in Spark, Python and DuckDB, which makes the
    signatures value-checkable by the SQL oracle (xxhash64, the obvious
    faster choice, exists only in Spark; an affine h*a+b permutation
    overflows int64 under ANSI mode).

    Physical shape: ONE mapInArrow stage, zero shuffles — each task tokenizes
    its batch with the RE2 tokenizer (same ASCII \\W semantics as the JVM and
    DuckDB engines; parity pinned by the tokenizer tests), forms the sliding
    shingles, and takes the per-permutation min over hashlib digests (native
    C). The signature is per-document state, so no explode/groupBy exchange
    is needed at any scale — the previous explode -> 64-min aggregation was
    algebraically fine but its first execution compiled a huge codegen class
    plus the interpreted higher-order-function path for the shingle arrays,
    a one-time JVM cost that dominated any cold (bench-shaped) run once the
    tokenizer stopped pre-warming those paths. Docs with fewer than
    ``shingle`` kept tokens yield no row (explode semantics). (A historical
    note: an array_min(transform) formulation hit a PySpark sibling-lambda
    variable cross-binding bug that silently corrupted the per-permutation
    salts — caught by the DuckDB oracle.)
    """
    import pyarrow as pa

    out_schema = T.StructType(
        [df.schema[id_col], T.StructField("signature", T.ArrayType(T.StringType()))]
    )
    salts = [f"mh{seed}|{i}|".encode() for i in range(num_hashes)]
    n = shingle
    id_name, text_name = id_col, text_col
    split_re = r"\W+"

    def sig_batches(batches):
        from hashlib import sha256

        import pyarrow.compute as pc

        bases = [sha256(s) for s in salts]
        for batch in batches:
            tab = pa.table(batch)
            id_arr = tab.column(id_name).combine_chunks()
            toks = pc.split_pattern_regex(
                pc.utf8_lower(tab.column(text_name).combine_chunks()), split_re
            )
            ids_out: list = []
            sigs_out: list = []
            for did, tl in zip(id_arr.to_pylist(), toks.to_pylist()):
                words = [t for t in tl if t] if tl is not None else []
                if len(words) < n:
                    continue
                shingle_bytes = {
                    " ".join(words[i : i + n]).encode()
                    for i in range(len(words) - n + 1)
                }
                sig = []
                for base in bases:
                    best = None
                    for sb in shingle_bytes:
                        h = base.copy()
                        h.update(sb)
                        d = h.digest()[:8]
                        if best is None or d < best:
                            best = d
                    sig.append(best.hex())
                ids_out.append(did)
                sigs_out.append(sig)
            yield pa.record_batch(
                [
                    pa.array(ids_out, type=id_arr.type),
                    pa.array(sigs_out, type=pa.list_(pa.string())),
                ],
                names=[id_name, "signature"],
            )

    return df.select(id_col, text_col).mapInArrow(sig_batches, out_schema)


def minhash_lsh_pairs(
    sigs: DataFrame, id_col: str = "doc_id", bands: int = 16
) -> DataFrame:
    """LSH banding: docs sharing any band bucket become candidate pairs.
    Returns (id_a, id_b, est_jaccard) with id_a < id_b; est_jaccard = fraction
    of equal signature slots.

    The band self-join shuffles only (id, band, bucket) — carrying the full
    64-slot signature arrays through it would ship every signature 2x bands
    times (and candidate rows would be wide before the pair dedup). The
    signatures are re-attached ONCE per deduped pair for the est_jaccard
    verify, so each signature crosses exactly one shuffle boundary
    (guide §2.3: shuffle keys and metadata, not payloads).

    The signature table is referenced four times (two band sides + two
    re-attach sides): it is persisted here unless the caller already cached
    it, otherwise the salted-sha256 aggregation would recompute per
    reference. (Unreferenced cache entries are reclaimed by Spark's
    ContextCleaner once the result frame is dropped.)"""
    from pyspark import StorageLevel

    if sigs.storageLevel == StorageLevel.NONE:
        sigs = sigs.persist()
    rows_per_band = F.floor(F.size("signature") / F.lit(bands)).cast("int")
    # bucket key = the band's slice itself (joined); no hash needed — equal
    # slices ARE the LSH collision condition, and the key stays DuckDB-checkable
    banded = sigs.select(
        id_col,
        F.explode(F.sequence(F.lit(0), F.lit(bands - 1))).alias("band"),
        F.col("signature"),
    ).select(
        id_col,
        "band",
        F.concat_ws(
            "-", F.slice("signature", F.col("band") * rows_per_band + 1, rows_per_band)
        ).alias("bucket"),
    )
    a = banded.select(F.col(id_col).alias("id_a"), "band", "bucket")
    b = banded.select(F.col(id_col).alias("id_b"), "band", "bucket")
    pairs = (
        a.join(b, ["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    sa = sigs.select(F.col(id_col).alias("id_a"), F.col("signature").alias("sig_a"))
    sb = sigs.select(F.col(id_col).alias("id_b"), F.col("signature").alias("sig_b"))
    est = (
        F.size(F.filter(F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda eq: eq))
        / F.size("sig_a")
    )
    return (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .select("id_a", "id_b", est.alias("est_jaccard"))
    )


def minhash_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    num_hashes: int = 64, bands: int = 16, threshold: float = 0.8, shingle: int = 3,
) -> DataFrame:
    """Near-dup groups: candidate pairs above threshold, clustered to their
    minimum id (one union-find hop — sufficient for near-dup star clusters)."""
    sigs = minhash_signatures(df, text_col, id_col, num_hashes, shingle)
    pairs = minhash_lsh_pairs(sigs, id_col, bands).filter(F.col("est_jaccard") >= threshold)
    canon = pairs.groupBy("id_b").agg(F.min("id_a").alias("canonical_id"))
    return canon.select(F.col("id_b").alias(id_col), "canonical_id")


SIMHASH_BITS = 60  # 15 hex chars of sha256 — cross-engine-computable int64


def simhash_udf():
    from pyspark.sql.functions import pandas_udf

    @pandas_udf(T.LongType())
    def simhash(token_hashes: pd.Series) -> pd.Series:
        import numpy as np

        out = []
        for arr in token_hashes:
            if arr is None or len(arr) == 0:
                out.append(0)
                continue
            a = np.asarray(arr, dtype=np.uint64)
            bits = (
                (a[:, None] >> np.arange(SIMHASH_BITS, dtype=np.uint64)) & np.uint64(1)
            ).astype(np.int64)
            counts = (2 * bits - 1).sum(axis=0)
            val = 0
            for i in range(SIMHASH_BITS):
                if counts[i] > 0:
                    val |= 1 << i
            out.append(val)
        return pd.Series(out, dtype="int64")

    return simhash


def token_hash_col(text_col: str):
    """array<long> of 60-bit sha256-derived token hashes (JVM codegen; the
    same value Python's int(sha256.hexdigest()[:15], 16) and DuckDB's
    ('0x'||substr(sha256(w),1,15))::BIGINT produce — see functions/hashing.py
    for the rationale)."""
    toks = F.filter(tokens_column(text_col), lambda t: t != "")
    return F.transform(
        toks, lambda t: F.conv(F.substring(F.sha2(t, 256), 1, 15), 16, 10).cast("long")
    )


def simhash_table(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(id, simhash) — token hashing JVM-side, bit voting in one numpy UDF.
    60-bit hashes keep every stage (and the DuckDB oracle) in exact int64."""
    return df.select(
        id_col, simhash_udf()(token_hash_col(text_col).alias("h")).alias("simhash")
    )


def simhash_neighbor_pairs(
    sim: DataFrame, id_col: str = "doc_id", hash_col: str = "simhash",
    bands: int = 6, max_hamming: int = 5,
) -> DataFrame:
    """Banded hamming-distance pair join — the operator that makes SimHash a
    dedup primitive rather than a fingerprint column.

    Split the 60-bit simhash into ``bands`` equal bit-bands and join on band
    equality: by pigeonhole, any pair with hamming distance < ``bands`` shares
    at least one untouched band, so recall is EXACT for
    ``max_hamming <= bands - 1`` (enforced). Candidates are then verified with
    ``bit_count(a XOR b) <= max_hamming`` — all JVM expressions. The band join
    is the scale story: no all-pairs product, buckets shuffle-partitioned,
    AQE splits hot buckets.
    """
    assert max_hamming <= bands - 1, "exact recall needs max_hamming <= bands - 1"
    assert SIMHASH_BITS % bands == 0, "bands must divide the simhash width"
    width = SIMHASH_BITS // bands
    mask = (1 << width) - 1
    band_vals = F.array(
        *[F.shiftright(F.col(hash_col), b * width).bitwiseAND(F.lit(mask)) for b in range(bands)]
    )
    banded = sim.select(
        id_col, hash_col, F.posexplode(band_vals).alias("band", "band_val")
    )
    a = banded.select(F.col(id_col).alias("id_a"), F.col(hash_col).alias("h_a"), "band", "band_val")
    b = banded.select(F.col(id_col).alias("id_b"), F.col(hash_col).alias("h_b"), "band", "band_val")
    return (
        a.join(b, ["band", "band_val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
        .withColumn("hamming", F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def ngram_jaccard_pairs(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    n: int = 3, threshold: float = 0.5, max_doc_freq: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard over all pairs sharing >=1 shingle.

    distinct-shingle explode -> self-join on shingle -> |A∩B| per pair;
    |A∪B| = |A|+|B|-|A∩B|. The shingle join IS the candidate pruning (pairs
    sharing nothing never meet), and it's what the DuckDB oracle can verify.

    ``max_doc_freq``: the web-scale guard. A boilerplate shingle shared by
    10^6 docs creates a quadratic bucket in the self-join; dropping shingles
    with document frequency > K bounds every bucket at K^2 pairs. Union sizes
    still count the dropped shingles (they're part of each doc's set), so
    reported Jaccard values only DECREASE for pairs whose intersection used
    capped shingles — at 100 TB that is the standard exactness/scale trade
    (the oracle mirrors the cap, so parity holds at any K).
    """
    sh = df.select(id_col, F.explode(F.array_distinct(shingles_column(text_col, n))).alias("shingle"))
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    if max_doc_freq is not None:
        rare = (
            sh.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") <= max_doc_freq)
            .select("shingle")
        )
        sh = sh.join(rare, "shingle", "left_semi")
    a = sh.select(F.col(id_col).alias("id_a"), "shingle")
    b = sh.select(F.col(id_col).alias("id_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("size_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("size_b"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("jaccard", F.col("inter") / (F.col("size_a") + F.col("size_b") - F.col("inter")))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
