"""Query-side ranking beyond raw BM25 (SURVEY.md §2.3 D15-D25).

- query normalize + stopword removal (ref: src/cis5550/jobs/
  ProcessInput.java:29-53 — stopwords dropped only when the query has >2
  words and ≥2 words survive);
- phrase/proximity scoring from the positional index (ref:
  src/cis5550/jobs/RankScore.java:187-300): for each adjacent query-term
  pair co-occurring in a doc, bonus += 1/min_pairwise_gap;
- priority blend weights (ref: src/cis5550/jobs/RankScore.java:24-31,43-62):
  ``W_RANK·pagerank + W_TEXT·bm25`` plus a boost when a query term appears
  in the doc's path/title; the facade's ``SearchEngine._search_uncached``
  applies the blend, and the weights are module constants so rank-parity
  tests can reference them;
- snippet generation for the final page of k docs only (ref:
  src/cis5550/jobs/SearchApi.java:335-377).

All per-posting work stays JVM-side (higher-order array functions for the
min-gap) or in Arrow-batched pandas UDFs over just the k result rows.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import TYPE_CHECKING

from google_spark.functions.tokenizer import tokenize

if TYPE_CHECKING:
    from pyspark.sql import Column, DataFrame

# Reference weights: pagerank 0.1, tfidf 10, title/url boost 100000
# (src/cis5550/jobs/RankScore.java:24-31). We keep the same *structure* with
# BM25-scaled constants; the boost stays rank-dominating like the original.
W_RANK = 0.1
W_TEXT = 10.0
W_PROX = 1.0  # weight of the proximity bonus in the priority blend
W_PATH_BOOST = 100000.0
W_TITLE_BOOST = 100000.0  # title match boosts like the url match (ref:
# src/cis5550/jobs/RankScore.java:51-60 treats both as rank-dominating)
DEFAULT_RANK = 0.15  # reference default for unranked docs (RankScore.java:49)

STOPWORDS = frozenset(
    "a an and are as at be by for from has he in is it its of on that the to "
    "was were will with this these those i you we they our your".split()
)


def normalize_query(query: str, mode: str = "simple", stem: bool = False) -> list[str]:
    """D15+D16: tokenize with the doc kernel, then drop stopwords — but only
    if the query has more than 2 words AND at least 2 words survive (the
    reference's guard, ref: src/cis5550/jobs/ProcessInput.java:38-53)."""
    terms = [t for t, _ in tokenize(query, mode=mode, stem=stem)]
    if len(terms) > 2:
        kept = [t for t in terms if t not in STOPWORDS]
        if len(kept) >= 2:
            return kept
    return terms


# metadata fields addressable as ``field:value`` in the query language;
# repo/lang match exactly (case-insensitive), path matches by substring —
# the scoping a code-search user actually types (repo:torch path:test
# lang:py). The reference has no field syntax (SearchApi.java treats the
# whole input as text); this is the code-payload extension of its
# phrase/priority blending.
SEARCH_FIELDS = ("repo", "path", "lang")


@dataclass
class QuerySpec:
    """Parsed query: positive scoring terms, quoted exact phrases,
    ``-term`` exclusions, and ``field:value`` / ``-field:value`` metadata
    filters (values OR within a field, AND across fields)."""

    terms: list[str]
    phrases: list[list[str]]
    excludes: list[str]
    filters: dict[str, list[str]]
    neg_filters: dict[str, list[str]]

    @property
    def has_constraints(self) -> bool:
        return bool(
            self.phrases or self.excludes or self.filters or self.neg_filters
        )


def parse_query_ext(
    query: str, mode: str = "simple", stem: bool = False
) -> QuerySpec:
    """Full query-language parse. Grammar, applied token-by-token on the
    whitespace-split raw query (quoted spans are lifted out first and their
    words always score as plain terms):

    - ``"exact phrase"``   -> consecutive-positions constraint (+ scoring)
    - ``-word``            -> exclude docs containing word
    - ``field:value``      -> keep only docs whose field matches
    - ``-field:value``     -> drop docs whose field matches
    - anything else        -> a scoring term (stopword guard as usual)
    """
    import re

    phrases: list[list[str]] = []
    for m in re.finditer(r'"([^"]*)"', query):
        toks = [t for t, _ in tokenize(m.group(1), mode=mode, stem=stem)]
        if len(toks) >= 2:
            phrases.append(toks)
    # strip the quotes but KEEP phrase words: they score like plain terms
    # (and, now unquoted, they are plain words — no operator chars inside)
    rest = re.sub(r'"([^"]*)"', r" \1 ", query)

    field_re = re.compile(
        r"(-?)(" + "|".join(SEARCH_FIELDS) + r"):(\S+)", re.ASCII
    )
    filters: dict[str, list[str]] = {}
    neg_filters: dict[str, list[str]] = {}
    excludes: list[str] = []
    plain: list[str] = []
    for raw in rest.split():
        m = field_re.fullmatch(raw)
        if m:
            neg, fld, val = m.groups()
            (neg_filters if neg else filters).setdefault(fld, []).append(val)
        elif raw.startswith("-") and len(raw) > 1:
            excludes.extend(t for t, _ in tokenize(raw[1:], mode=mode, stem=stem))
        else:
            plain.append(raw)
    return QuerySpec(
        terms=normalize_query(" ".join(plain), mode=mode, stem=stem),
        phrases=phrases,
        excludes=excludes,
        filters=filters,
        neg_filters=neg_filters,
    )


def field_matches(fld: str, value: str, row: dict) -> bool:
    """One field filter against one meta row: path by substring, repo/lang
    exact — all case-insensitive."""
    got = row.get(fld)
    if got is None:
        return False
    got, want = str(got).lower(), value.lower()
    return want in got if fld == "path" else got == want


def phrase_match_py(
    pos_by_term: dict[str, dict[int, list[int]]],
    tokens: list[str],
    doc_id: int,
) -> bool:
    """True iff ``tokens`` occur consecutively, in order, in ``doc_id``
    (positions are 1-based from the tokenizer; set-intersect the
    offset-shifted position lists)."""
    plists = [pos_by_term.get(t, {}).get(doc_id) for t in tokens]
    if any(not p for p in plists):
        return False
    starts = set(plists[0])
    for off, pl in enumerate(plists[1:], start=1):
        starts &= {p - off for p in pl}
        if not starts:
            return False
    return True


def min_gap_col(pa: str, pb: str) -> Column:
    """min over |pa_i - pb_j| with nested JVM higher-order functions — the
    vectorized analog of the reference's pairwise loop (ref:
    src/cis5550/jobs/RankScore.java:269-277)."""
    from pyspark.sql import functions as F

    return F.array_min(
        F.flatten(
            F.transform(pa, lambda x: F.transform(pb, lambda y: F.abs(x - y)))
        )
    )


def proximity_bonus_py(
    pos_by_term: dict[str, dict[int, list[int]]],
    terms: list[str],
    doc_id: int,
) -> float:
    """Driver-side twin of :func:`proximity_bonus` for the serving path:
    Σ over adjacent distinct query-term pairs of 1/min_pairwise_gap."""
    bonus = 0.0
    for a, b in zip(terms, terms[1:]):
        if a == b:
            continue
        pa = pos_by_term.get(a, {}).get(doc_id)
        pb = pos_by_term.get(b, {}).get(doc_id)
        if not pa or not pb:
            continue
        gap = min(abs(x - y) for x in pa for y in pb)
        if gap > 0:
            bonus += 1.0 / gap
    return bonus


def proximity_bonus(doc_terms: DataFrame, terms: list[str]) -> DataFrame:
    """DataFrame[doc_id, prox_bonus]: Σ over adjacent query-term pairs of
    1/min_gap for docs containing both. ``doc_terms`` is the tokenize_docs
    relation (doc_id, term, positions)."""
    from pyspark.sql import functions as F

    spark = doc_terms.sparkSession
    pairs = [(a, b) for a, b in zip(terms, terms[1:]) if a != b]
    if not pairs:
        return spark.createDataFrame([], "doc_id long, prox_bonus double")
    out = None
    needed = doc_terms.filter(
        F.col("term").isin(sorted({t for p in pairs for t in p}))
    ).select("doc_id", "term", "positions")
    for a, b in pairs:
        pa = needed.filter(F.col("term") == a).select(
            "doc_id", F.col("positions").alias("pa")
        )
        pb = needed.filter(F.col("term") == b).select(
            "doc_id", F.col("positions").alias("pb")
        )
        gap = min_gap_col("pa", "pb")
        pair_bonus = (
            pa.join(pb, "doc_id")
            .select(
                "doc_id",
                F.when(gap > 0, F.lit(1.0) / gap).otherwise(F.lit(0.0)).alias("b"),
            )
        )
        out = pair_bonus if out is None else out.unionByName(pair_bonus)
    return out.groupBy("doc_id").agg(F.sum("b").alias("prox_bonus"))


def snippets(
    results: DataFrame,
    docs: DataFrame,
    terms: list[str],
    id_col: str = "doc_id",
    text_col: str = "content",
    width: int = 120,
) -> DataFrame:
    """Attach a snippet around the first query-term occurrence; fallback to
    the doc head (ref: src/cis5550/jobs/SearchApi.java:335-377 — first
    occurrence cut at punctuation; here a fixed character window). Joins
    only the k result rows against the doc store (broadcast of the tiny
    side), then one pandas UDF over k rows."""
    import pandas as pd
    from pyspark.sql import functions as F

    lowered = [t.lower() for t in terms]

    def kernel(texts):
        out = []
        for text in texts:
            t = text or ""
            low = t.lower()
            pos = -1
            for term in lowered:
                p = low.find(term)
                if p >= 0 and (pos < 0 or p < pos):
                    pos = p
            start = max(0, pos - width // 3) if pos >= 0 else 0
            out.append(t[start : start + width].replace("\n", " "))
        return pd.Series(out, dtype="object")

    snip = F.pandas_udf(kernel, "string")
    joined = docs.join(
        F.broadcast(results.select(id_col)), id_col, "left_semi"
    ).select(id_col, snip(F.col(text_col)).alias("snippet"))
    return results.join(joined, id_col, "left")


def bm25f_topk(
    docs: DataFrame,
    query: str,
    k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
    w_title: float = 2.0,
    w_body: float = 1.0,
    k1: float = 1.2,
    b_title: float = 0.75,
    b_body: float = 0.75,
) -> DataFrame:
    """DataFrame[doc_id, score] — top-k by BM25F over (title, body) fields
    (Robertson/Zaragoza: weighted per-field tf with per-field length
    normalization combined BEFORE the k1 saturation, one idf per term).
    The title is the docstore's first-non-empty-line title (D1); this is
    the principled generalization of the reference's additive title boost
    (RankScore.java:51-60 adds a flat constant on a title hit).

    Plan shape: ZERO explodes and zero data shuffles — per-field token
    arrays are materialized scan-side and per-query-term tf is an array
    filter on them (queries have a handful of terms, so the expression
    count stays small). Corpus stats and per-term document frequencies
    reduce to ONE row collected to the driver and re-embedded as
    literals, so the scoring pass is a single scan -> project -> filter ->
    TakeOrderedAndProject with no join at all. Two corpus scans total
    (stats, then scoring) — this is the batch/offline scorer; interactive
    serving stays on the posting index."""
    from collections import Counter

    from pyspark.sql import functions as F

    from google_spark.operators.dedup import tokens_col
    from google_spark.operators.docstore import title_col

    spark = docs.sparkSession
    terms = normalize_query(query)
    if not terms:
        return spark.createDataFrame([], f"{id_col} long, score double")
    qf = Counter(terms)
    uniq = sorted(qf)

    fields = docs.select(
        F.col(id_col),
        tokens_col(title_col(text_col)).alias("tt"),
        tokens_col(F.col(text_col)).alias("tb"),
    )
    def eq(t: str):
        # NB: a `lambda x, t=t:` default-arg closure would LOOK unary but
        # pyspark inspects the arity and passes the element index as t
        return lambda x: x == F.lit(t)

    per_doc = fields.select(
        id_col,
        F.size("tt").alias("dl_t"),
        F.size("tb").alias("dl_b"),
        *[
            F.size(F.filter("tt", eq(t))).alias(f"tft_{i}")
            for i, t in enumerate(uniq)
        ],
        *[
            F.size(F.filter("tb", eq(t))).alias(f"tfb_{i}")
            for i, t in enumerate(uniq)
        ],
    )
    import math

    st = per_doc.agg(
        F.count("*").alias("n_docs"),
        F.avg("dl_t").alias("avgdl_t"),
        F.avg("dl_b").alias("avgdl_b"),
        *[
            F.sum(
                (F.col(f"tft_{i}") + F.col(f"tfb_{i}") > 0).cast("long")
            ).alias(f"df_{i}")
            for i in range(len(uniq))
        ],
    ).collect()[0]
    n_docs = int(st["n_docs"])
    avgdl_t = float(st["avgdl_t"] or 0.0)
    avgdl_b = float(st["avgdl_b"] or 0.0)
    score = F.lit(0.0)
    for i, t in enumerate(uniq):
        # an all-empty field has avgdl 0 -> dl/avgdl would be NaN (not
        # NULL, so coalesce can't catch it); field absent -> contributes 0
        # float op order mirrors the oracle exactly: b * dl / avgdl
        tfw = F.lit(0.0)
        if avgdl_t > 0:
            bt = F.lit(1.0 - b_title) + F.lit(b_title) * F.col("dl_t") / F.lit(avgdl_t)
            tfw = tfw + F.lit(w_title) * F.col(f"tft_{i}") / bt
        if avgdl_b > 0:
            bb = F.lit(1.0 - b_body) + F.lit(b_body) * F.col("dl_b") / F.lit(avgdl_b)
            tfw = tfw + F.lit(w_body) * F.col(f"tfb_{i}") / bb
        df_i = int(st[f"df_{i}"])
        idf = math.log((n_docs - df_i + 0.5) / (df_i + 0.5) + 1.0)
        score = score + F.lit(float(qf[t]) * idf) * tfw / (F.lit(k1) + tfw)
    return (
        per_doc.select(F.col(id_col), F.round(score, 4).alias("score"))
        .filter(F.col("score") > 0)
        .orderBy(F.desc("score"), F.asc(id_col))
        .limit(k)
    )
