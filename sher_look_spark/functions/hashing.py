"""Hashing surface: content hashes and 64-bit URL ids.

Reference: /root/reference/src/main/java/com/sherlook/search/utils/Hash.java:8-12
(SHA-256 of the UTF-8 bytes, base64url without padding) — used for content
dedup (CrawlTask.java:116-128) and page-store file names (HtmlSaver.java:21-30).

The 64-bit URL id replaces the reference's SQLite AUTOINCREMENT primary key
(schema.sql:5): autoincrement has no distributed analog, so ids are a pure
function of the normalized URL — stable across executors, waves and restarts.
"""

from __future__ import annotations

import base64
import hashlib

from pyspark.sql import Column
from pyspark.sql import functions as F


def sha256_b64url(data: str | bytes) -> str:
    """Exact parity with Hash.sha256: base64url(sha256(bytes)), no padding."""
    if isinstance(data, str):
        data = data.encode("utf-8")
    return base64.urlsafe_b64encode(hashlib.sha256(data).digest()).decode("ascii").rstrip("=")


def url_hash64(url: str) -> int:
    """Deterministic non-negative int64 id for a normalized URL.

    First 60 bits of sha256 — chosen (over xxhash64) so the pure-Python
    reference simulator, the Spark engine and a DuckDB oracle can all compute
    the identical value (sha256 is available in all three).
    """
    return int(hashlib.sha256(url.encode("utf-8")).hexdigest()[:15], 16)


def url_hash64_col(col: Column | str) -> Column:
    """JVM-expression twin of :func:`url_hash64` — bit-identical values
    (pinned by tests) without an ArrowEvalPython stage in the plan: sha2's
    hex output's first 15 chars ARE the first 60 bits, and conv(_, 16, 10)
    re-reads them as the same non-negative int64. Null in -> null out."""
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.sha2(c, 256), 1, 15), 16, 10).cast("long")


def sha256_b64url_col(col: Column | str) -> Column:
    """JVM-expression twin of :func:`sha256_b64url` (base64url, no padding),
    for string inputs: unhex(sha2) recovers the raw digest, base64 of 32
    bytes is one 44-char line (no MIME wrapping), translate maps the two
    url-unsafe chars, and the '='-strip drops padding."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_replace(
        F.translate(F.base64(F.unhex(F.sha2(c, 256))), "+/", "-_"), "=+$", ""
    )


def sha256_hex(col: Column | str) -> Column:
    """JVM-side hex sha256 (whole-stage-codegen friendly) for oracle-checked
    dedup queries where base64url parity is not required."""
    return F.sha2(F.col(col) if isinstance(col, str) else col, 256)
