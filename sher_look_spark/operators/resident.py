"""Resident search index: one snapshot's index tables held in driver memory
as numpy arrays, answering the `serve` tier's queries with no Spark job.

``ResidentIndex.load`` reads the snapshot's ``postings``, ``documents_meta``,
``page_rank`` and ``idf`` parquet dirs straight through pyarrow, once.
``ResidentIndex.search`` then reproduces ``webindex.search_pages`` exactly
(same rows, same order, bit-identical scores) in vectorized numpy:

* a term dictionary (a Python dict: the hash table) pointing at CSR posting
  ranges sorted by (word, doc, section, position) — keyword TF-IDF reads
  per-(doc, section) frequencies off one contiguous range per term, and
  phrase matching intersects the ranges' sorted (doc, section, start) keys
  (*LCJoin*, ICDE 2019: set containment by merging sorted lists);
* per-doc arrays ordered by doc_id, so the pagination tie-break on doc_id is
  the doc index itself;
* a doc-ordered (doc, position) posting list for snippets.

Float equality with Spark rests on doing the same IEEE operations in the
same order: ``contrib = freq / document_size * weight(section) * idf`` per
(doc, word, section), each doc's addends folded left to right in ascending
order from 0.0 (``ranking.tfidf_scores`` sorts them the same way), and
``final = 0.7 * tfidf + 0.3 * rank``. ``np.sum`` / ``np.add.reduceat`` are
not used for the fold: their pairwise summation reorders the additions.
"""

from __future__ import annotations

import os
from collections import Counter

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from sher_look_spark.functions.text import tokenize_py
from sher_look_spark.operators import query_parse, webindex
from sher_look_spark.operators.ranking import (
    PAGERANK_WEIGHT,
    SECTION_WEIGHTS,
    SNIPPET_WINDOW,
    TFIDF_WEIGHT,
)


def _read(root: str, rels: list[str], columns: list[str]) -> pa.Table:
    """``columns`` of every staged dir of one table, concatenated."""
    parts = [pq.read_table(os.path.join(root, rel), columns=columns) for rel in rels]
    return pa.concat_tables(parts, promote_options="permissive")


def _floats(col: pa.ChunkedArray) -> np.ndarray:
    """float64 array with nulls as NaN."""
    return pc.cast(col, pa.float64()).to_numpy(zero_copy_only=False)


class ResidentIndex:
    """One snapshot's index, immutable once loaded (safe to share between
    request threads)."""

    def __init__(self, postings: pa.Table, meta: pa.Table, ranks: pa.Table | None,
                 idf: pa.Table):
        # per-doc arrays, ordered by doc_id
        doc_ids = meta.column("doc_id").to_numpy(zero_copy_only=False).astype(np.int64)
        order = np.argsort(doc_ids, kind="stable")
        self.doc_ids = doc_ids[order]
        self.url = np.asarray(meta.column("url").to_pylist(), dtype=object)[order]
        self.title = np.asarray(meta.column("title").to_pylist(), dtype=object)[order]
        self.description = np.asarray(meta.column("description").to_pylist(), dtype=object)[order]
        self.doc_size = _floats(meta.column("document_size"))[order]
        # read_documents_meta: the page_rank table replaces the meta column
        # when it exists; a rank that is missing blends as 0.0
        if ranks is None:
            rank = _floats(meta.column("page_rank"))[order]
        else:
            rank = np.full(len(order), np.nan)
            r_ids = ranks.column("doc_id").to_numpy(zero_copy_only=False).astype(np.int64)
            at, found = self._doc_index(r_ids)
            rank[at[found]] = _floats(ranks.column("page_rank"))[found]
        self.rank = np.nan_to_num(rank, nan=0.0)

        # postings of docs with a meta row (tfidf_scores inner-joins doc sizes)
        doc, found = self._doc_index(
            postings.column("doc_id").to_numpy(zero_copy_only=False).astype(np.int64)
        )
        postings = postings.filter(pa.array(found))
        doc = doc[found].astype(np.int32)
        words = pc.dictionary_encode(postings.column("word")).combine_chunks()
        term = words.indices.to_numpy(zero_copy_only=False).astype(np.int32)
        self.terms = words.dictionary.to_pylist()
        self.term_id = {w: i for i, w in enumerate(self.terms)}
        sections = pc.dictionary_encode(postings.column("section")).combine_chunks()
        sec = sections.indices.to_numpy(zero_copy_only=False).astype(np.int8)
        self.sec_weight = np.array(
            [SECTION_WEIGHTS.get(s, 1.0) for s in sections.dictionary.to_pylist()]
        )
        pos = postings.column("position").to_numpy().astype(np.int32)
        self.n_sections = max(len(self.sec_weight), 1)
        self.pos_span = int(pos.max()) + 1 if len(pos) else 1

        # term CSR: ranges sorted by (word, doc, section, position)
        by_term = np.lexsort((pos, sec, doc, term))
        self.term_ptr = np.searchsorted(term[by_term], np.arange(len(self.terms) + 1))
        self.p_doc, self.p_sec, self.p_pos = doc[by_term], sec[by_term], pos[by_term]
        # doc CSR: (position, word) sorted by (doc, position), for snippets
        by_doc = np.lexsort((pos, doc))
        self.doc_ptr = np.searchsorted(doc[by_doc], np.arange(len(self.doc_ids) + 1))
        self.d_pos, self.d_term = pos[by_doc], term[by_doc]

        self.idf = np.full(len(self.terms), np.nan)
        for w, v in zip(idf.column("word").to_pylist(), idf.column("idf").to_pylist()):
            t = self.term_id.get(w)
            if t is not None and v is not None:
                self.idf[t] = v

    @classmethod
    def load(cls, root: str, snap) -> ResidentIndex | None:
        """The index of snapshot ``snap`` (a ``storage.Snapshot``) under
        ``root``, or None when the snapshot has no index tables yet."""
        if not webindex.has_index(snap):
            return None
        rels = snap.tables
        return cls(
            _read(root, rels["postings"], ["doc_id", "section", "word", "position"]),
            _read(root, rels["documents_meta"],
                  ["doc_id", "url", "title", "description", "document_size", "page_rank"]),
            _read(root, rels["page_rank"], ["doc_id", "page_rank"]) if rels.get("page_rank") else None,
            _read(root, rels["idf"], ["word", "idf"]),
        )

    def _doc_index(self, ids: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        """(doc index, found mask) of each doc_id in ``ids``."""
        at = np.searchsorted(self.doc_ids, ids)
        at = np.minimum(at, max(len(self.doc_ids) - 1, 0))
        found = (self.doc_ids[at] == ids) if len(self.doc_ids) else np.zeros(len(ids), bool)
        return at, found

    def _term_range(self, word: str) -> tuple[int, int]:
        t = self.term_id.get(word)
        return (0, 0) if t is None else (self.term_ptr[t], self.term_ptr[t + 1])

    def _tfidf(self, terms: list[str], missing_idf: float) -> tuple[np.ndarray, np.ndarray]:
        """(docs, tfidf) as ranking.tfidf_scores computes them: one addend
        per (doc, word, section), a term listed m times counting m-fold."""
        docs, vals = [], []
        for word, m in Counter(terms).items():
            a, b = self._term_range(word)
            if a == b:
                continue
            d, s = self.p_doc[a:b], self.p_sec[a:b]
            start = np.flatnonzero(np.r_[True, (d[1:] != d[:-1]) | (s[1:] != s[:-1])])
            freq = (m * np.diff(np.r_[start, b - a])).astype(np.float64)
            idf = self.idf[self.term_id[word]]
            idf = missing_idf if np.isnan(idf) else idf
            d, s = d[start], s[start]
            docs.append(d)
            vals.append(freq / self.doc_size[d] * self.sec_weight[s] * idf)
        if not docs:
            return np.empty(0, np.int32), np.empty(0)
        docs, vals = np.concatenate(docs), np.concatenate(vals)
        # each doc's addends ascending, then folded left to right from 0.0:
        # at most K column adds for a doc with K addends
        order = np.lexsort((vals, docs))
        docs, vals = docs[order], vals[order]
        start = np.flatnonzero(np.r_[True, docs[1:] != docs[:-1]])
        count = np.diff(np.r_[start, len(docs)])
        acc = np.zeros(len(start))
        for k in range(int(count.max())):
            live = count > k
            acc[live] += vals[start[live] + k]
        return docs[start], acc

    def _phrase_docs(self, words: list[str]) -> np.ndarray:
        """Docs where words[i] sits at start + i in one section, for some
        start (ranking.phrase_match)."""
        keys = None
        for i, word in enumerate(words):
            a, b = self._term_range(word)
            start = self.p_pos[a:b].astype(np.int64) - i
            ok = start >= 0
            k = (
                self.p_doc[a:b][ok].astype(np.int64) * self.n_sections
                + self.p_sec[a:b][ok]
            ) * self.pos_span + start[ok]
            keys = k if keys is None else np.intersect1d(keys, k, assume_unique=True)
        if keys is None:
            return np.empty(0, np.int64)
        return np.unique(keys // (self.n_sections * self.pos_span))

    def _ranked(self, parsed) -> tuple[np.ndarray, np.ndarray]:
        """(docs, final_score) of every matching doc, unordered."""
        if not parsed.is_phrase:
            return self._tfidf(parsed.tokens, 0.0)
        docs = None
        for i, p in enumerate(parsed.phrases):
            s = self._phrase_docs(tokenize_py(p))
            if docs is None:
                docs = s
                continue
            op = parsed.operators[i - 1] if i - 1 < len(parsed.operators) else query_parse.AND
            if op == query_parse.OR:
                docs = np.union1d(docs, s)
            elif op == query_parse.NOT:
                docs = np.setdiff1d(docs, s)
            else:
                docs = np.intersect1d(docs, s)
        all_terms = [t for p in parsed.phrases for t in tokenize_py(p)]
        d, tfidf = self._tfidf(all_terms, 1.0)
        keep = np.isin(d, docs)
        return d[keep], tfidf[keep]

    def _snippet(self, doc: int, terms: list[str]) -> str | None:
        """ranking.snippets for one doc: the ±window around each term's
        first position, merged, in position order, hits in <b>."""
        hits = []
        for word in dict.fromkeys(terms):
            a, b = self._term_range(word)
            d = self.p_doc[a:b]
            lo, hi = np.searchsorted(d, doc), np.searchsorted(d, doc, side="right")
            if lo < hi:
                hits.append(int(self.p_pos[a + lo:a + hi].min()))
        if not hits:
            return self.description[doc]
        a, b = self.doc_ptr[doc], self.doc_ptr[doc + 1]
        pos = self.d_pos[a:b]
        at = np.unique(np.concatenate([
            np.arange(np.searchsorted(pos, max(0, h - SNIPPET_WINDOW)),
                      np.searchsorted(pos, h + SNIPPET_WINDOW, side="right"))
            for h in hits
        ]))
        bold = set(terms)
        pieces = [self.terms[t] for t in self.d_term[a:b][at]]
        return " ".join(f"<b>{w}</b>" if w in bold else w for w in pieces) + " ..."

    def search(self, query: str, page: int = 1, per_page: int = 10) -> list[tuple]:
        """``webindex.search_pages(...).collect()`` as (url, title,
        final_score, snippet) tuples."""
        parsed = query_parse.parse_query(query)
        if parsed is None or (parsed.is_phrase and not parsed.phrases):
            return []
        docs, tfidf = self._ranked(parsed)
        final = TFIDF_WEIGHT * tfidf + PAGERANK_WEIGHT * self.rank[docs]
        # query_parse.search's page order: score descending, then doc_id
        order = np.lexsort((docs, -final))
        start = (page - 1) * per_page
        sel = order[start:start + per_page]
        terms = (
            parsed.tokens if not parsed.is_phrase
            else [t for p in parsed.phrases for t in p.split()]
        )
        rows = [
            (self.url[d], self.title[d], float(f), self._snippet(d, terms) if terms else None)
            for d, f in zip(docs[sel], final[sel])
        ]
        # search_pages' final order: score descending, then url (nulls first)
        rows.sort(key=lambda r: (-r[2], r[0] is not None, r[0] or ""))
        return rows
