"""Spell correction over the index vocabulary ("did you mean").

The reference has no spelling surface (its SearchApi passes typos straight
to ranking and returns nothing); this is the query-assist extension every
serving stack needs once real users type queries. Two paths sharing one
ranking contract (candidates = vocabulary terms within edit distance
``max_dist``, ranked by (distance asc, df desc, term asc)):

- :func:`suggest_distributed` — exact: JVM ``levenshtein(term, q,
  threshold)`` over the index's terms table (vocabulary-sized, NOT
  corpus-sized), with the |len| <= max_dist band as a pushed-down prune
  (edit distance >= length difference, so the band never changes results).
  One small Spark job; the oracle-checked ground truth.
- :class:`NgramSuggester` — serving path: a driver-side bigram inverted
  map over the capped top-df vocabulary (the same cap as the autocomplete
  trie — bounded memory at web scale). Shared-bigram counting shortlists
  ~O(100) candidates, exact DP distance re-ranks the shortlist. Zero Spark
  jobs per call.

The serving path is a deliberate APPROXIMATION of the exact one, in three
documented ways: (a) a candidate sharing zero padded bigrams with the
query is invisible to the shortlist — possible only for terms of ~3 chars
or less (e.g. 'yx' vs 'xy'), since a single edit on a longer term always
leaves a common bigram; (b) an exact vocabulary hit returns itself alone
(did-you-mean semantics: a known word needs no corrections), where the
distributed path also lists its neighbors; (c) the ``shortlist`` cut
bounds DP work, so a pathological prefix flood can evict a true
candidate. The pytest parity suite pins the paths equal on typo classes
of real vocabulary terms (drop/swap/append, length >= 4).
"""

from __future__ import annotations

from typing import TYPE_CHECKING

import numpy as np

if TYPE_CHECKING:
    from pyspark.sql import DataFrame

    from google_spark.operators.index_build import IndexTables


def suggest_distributed(
    index: IndexTables, term: str, limit: int = 5, max_dist: int = 2
) -> DataFrame:
    """DataFrame[term, df, dist] — closest vocabulary terms to ``term``.
    The length band |len(v) - len(term)| <= max_dist is a pure prune
    (distance >= length difference); the threshold form of levenshtein
    stops the DP early on hopeless rows."""
    from pyspark.sql import functions as F

    q = term.lower()
    lev = F.levenshtein(F.col("term"), F.lit(q), max_dist)
    return (
        index.terms.filter(
            F.abs(F.length("term") - F.lit(len(q))) <= max_dist
        )
        .select("term", "df", lev.alias("dist"))
        .filter((F.col("dist") >= 0) & (F.col("dist") <= max_dist))
        .orderBy(F.asc("dist"), F.desc("df"), F.asc("term"))
        .limit(limit)
    )


def fuzzy_topk(
    index: IndexTables,
    query: str,
    k: int = 10,
    max_dist: int = 1,
    decay: float = 0.5,
    max_expand: int = 16,
    mode: str = "simple",
    stem: bool = False,
) -> DataFrame:
    """(doc_id, score) — typo-tolerant BM25 top-k (the Lucene FuzzyQuery
    analog): each query term expands against the index vocabulary to terms
    within edit distance ``max_dist`` (capped at ``max_expand`` expansions
    per query term, kept by dist asc / df desc / term asc — the rewrite
    cap that bounds a short term's explosion), each expansion weighted
    ``decay ** dist`` (exact hit = 1.0), a dictionary term reached from
    several query terms keeps its MAX weight, and the weighted expansion
    scores through the same pruned-index core as every other query
    (:func:`~google_spark.operators.index_query.weighted_topk`).

    Scale shape: expansion is ONE vocabulary-sized scan (terms table, not
    corpus) against a broadcast relation of <= |query| distinct terms,
    with the |len| band prune and the thresholded JVM levenshtein; the
    per-query-term cap is a WindowGroupLimit top-k heap; the collect is
    bounded at |query terms| * max_expand rows."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from google_spark.operators.index_query import query_terms, weighted_topk

    spark = index.postings.sparkSession
    qts = sorted(set(query_terms(query, mode=mode, stem=stem)))
    if not qts:
        return spark.createDataFrame([], "doc_id long, score double")
    qdf = spark.createDataFrame([(t,) for t in qts], "qt string")
    lev = F.levenshtein(F.col("term"), F.col("qt"), max_dist)
    cand = (
        index.terms.join(
            F.broadcast(qdf),
            F.abs(F.length("term") - F.length("qt")) <= max_dist,
        )
        .select("term", "df", "qt", lev.alias("dist"))
        .filter((F.col("dist") >= 0) & (F.col("dist") <= max_dist))
    )
    w = Window.partitionBy("qt").orderBy(
        F.asc("dist"), F.desc("df"), F.asc("term")
    )
    rows = (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= max_expand)
        .groupBy("term")
        .agg(F.max(F.pow(F.lit(decay), F.col("dist"))).alias("w"))
        .collect()
    )
    if not rows:
        return spark.createDataFrame([], "doc_id long, score double")
    return weighted_topk(index, {r["term"]: float(r["w"]) for r in rows}, k=k)


def _edit_distance(a: str, b: str, cap: int) -> int:
    """Banded Wagner-Fischer with early abandon; returns cap+1 when the
    true distance exceeds ``cap``."""
    if abs(len(a) - len(b)) > cap:
        return cap + 1
    prev = np.arange(len(b) + 1)
    for i, ca in enumerate(a, start=1):
        cur = np.empty(len(b) + 1, dtype=np.int64)
        cur[0] = i
        for j, cb in enumerate(b, start=1):
            cur[j] = min(
                prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)
            )
        if cur.min() > cap:
            return cap + 1
        prev = cur
    return int(prev[-1])


def _bigrams(term: str) -> set[str]:
    padded = f"^{term}$"
    return {padded[i : i + 2] for i in range(len(padded) - 1)}


class NgramSuggester:
    """Driver-side suggester over a (term, df) vocabulary list. Memory is
    O(sum of term lengths) — safe under the same top-df cap as the
    autocomplete trie. ``shortlist`` bounds the exact-DP work per call."""

    def __init__(self, vocab: list[tuple[str, int]], shortlist: int = 200):
        self.df = dict(vocab)
        self.shortlist = shortlist
        self._by_bigram: dict[str, list[str]] = {}
        for t, _df in vocab:
            for bg in _bigrams(t):
                self._by_bigram.setdefault(bg, []).append(t)

    def __contains__(self, term: str) -> bool:
        return term in self.df

    def suggest(
        self, term: str, limit: int = 5, max_dist: int = 2
    ) -> list[tuple[str, int, int]]:
        """[(suggestion, df, dist)] ranked (dist asc, df desc, term asc).
        An exact vocabulary hit returns itself at distance 0."""
        q = term.lower()
        if q in self.df:
            return [(q, self.df[q], 0)]
        counts: dict[str, int] = {}
        for bg in _bigrams(q):
            for t in self._by_bigram.get(bg, ()):
                counts[t] = counts.get(t, 0) + 1
        # most shared bigrams first; df breaks ties so the shortlist cut
        # keeps the candidates most likely to be the intended word
        cand = sorted(
            counts, key=lambda t: (-counts[t], -self.df[t], t)
        )[: self.shortlist]
        out = []
        for t in cand:
            d = _edit_distance(q, t, max_dist)
            if d <= max_dist:
                out.append((t, self.df[t], d))
        out.sort(key=lambda x: (x[2], -x[1], x[0]))
        return out[:limit]
