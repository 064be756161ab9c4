"""Q1: query parsing + the end-to-end search pipeline (the 'serve' tier).

Reference: /root/reference/src/main/java/com/sherlook/search/query/QueryProcessor.java
  * phrase mode iff the whole query is "..."-wrapped (:55, `"\\".*\\""`)
  * up to 3 quoted phrases ("[^"]+"), lowercased/trimmed (:118-121)
  * up to 2 operators parsed from `"\\s*(AND|OR|NOT)\\s*"` between quotes;
    AND=1, OR=2, NOT=3; filled only when >1 phrase (:124-130)
  * keyword mode: tokenize + stem, stop words dropped (Tokenizer.tokenizeQuery)

search() wires Q1->Q2 (semi-join prefilter)->Q3/Q4 (TF-IDF) or Q5/Q6 (phrase)
->Q7 (set algebra)->Q8/Q9 (blend)->Q10 (pagination) as one DataFrame plan.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sher_look_spark.functions.porter import porter_stem
from sher_look_spark.functions.text import tokenize_py

AND, OR, NOT = 1, 2, 3


@dataclass
class ParsedQuery:
    is_phrase: bool
    tokens: list[str] = field(default_factory=list)
    stems: list[str] = field(default_factory=list)
    phrases: list[str] = field(default_factory=list)   # <= 3
    operators: list[int] = field(default_factory=list)  # <= 2, AND/OR/NOT


def parse_query(query: str | None) -> ParsedQuery | None:
    if query is None or not query.strip():
        return None
    query = query.strip()
    if re.fullmatch(r"\".*\"", query, flags=re.DOTALL):
        phrases = [
            m.group().replace('"', "").lower().strip()
            for m in re.finditer(r"\"[^\"]+\"", query)
        ][:3]
        operators: list[int] = []
        if len(phrases) > 1:
            for m in re.finditer(r"\"\s*(AND|OR|NOT)\s*\"", query):
                op = m.group()
                operators.append(AND if "AND" in op else OR if "OR" in op else NOT)
        return ParsedQuery(True, phrases=phrases, operators=operators[:2])
    tokens = tokenize_py(query)
    return ParsedQuery(False, tokens=tokens, stems=[porter_stem(t) for t in tokens])


def search(
    spark: SparkSession,
    postings: DataFrame,
    doc_sizes: DataFrame,
    idf: DataFrame,
    pagerank: DataFrame | None,
    query: str | ParsedQuery | None,
    page: int = 1,
    per_page: int = 10,
    doc_col: str = "doc_id",
) -> DataFrame:
    """Full ranked search: returns (doc_id, final_score) for the page slice.
    ``query`` may be a raw string or an already-ParsedQuery (the serve tier
    parses once and reuses it for snippet terms)."""
    from sher_look_spark.operators.ranking import (
        blend_scores,
        paginate,
        phrase_match,
        tfidf_scores,
    )

    parsed = query if isinstance(query, ParsedQuery) else parse_query(query)
    if parsed is None or (parsed.is_phrase and not parsed.phrases):  # '', '""'
        return spark.createDataFrame([], f"{doc_col} long, final_score double")

    if not parsed.is_phrase:
        tfidf = tfidf_scores(postings, doc_sizes, idf, parsed.tokens, doc_col)
    else:
        # per-phrase candidate sets combined with AND/OR/NOT (default AND,
        # Ranker.java:454-478), then phrase-mode scoring (missing idf -> 1.0)
        sets = [
            phrase_match(postings, tokenize_py(p), doc_col) for p in parsed.phrases
        ]
        docs = sets[0]
        for i, s in enumerate(sets[1:]):
            op = parsed.operators[i] if i < len(parsed.operators) else AND
            if op == OR:
                docs = docs.union(s).distinct()
            elif op == NOT:
                docs = docs.exceptAll(s)
            else:
                docs = docs.intersect(s)
        all_terms = [t for p in parsed.phrases for t in tokenize_py(p)]
        scores = tfidf_scores(
            postings, doc_sizes, idf, all_terms, doc_col, missing_idf_default=1.0
        )
        tfidf = scores.join(docs, doc_col, "left_semi")

    blended = blend_scores(
        tfidf,
        pagerank if pagerank is not None
        else spark.createDataFrame([], "id long, rank double"),
        doc_col,
    )
    # doc id breaks score ties, so consecutive pages neither repeat nor skip
    # a doc
    order = [F.desc("final_score"), F.asc(doc_col)]
    return paginate(blended, page, per_page, order).select(doc_col, "final_score")
