"""Query-time top-k: BM25 scoring over the sharded compressed index
(SURVEY.md §2.3 D18-D23, §3.3). Every BM25 score goes through the one
scoring core, ``google_spark.bm25_idf``/``bm25_term``.

The serving tier runs on the driver: ``wand_topk_local`` and
``local_topk_core`` read only the query terms' posting rows
(``session.point_read``: pyarrow on a published bundle or catalog
snapshot), decode them once into the row cache and
score in NumPy. ``SearchEngine`` builds its boolean, explain, near, PRF,
fuzzy, wildcard and facet routes on that core.

The distributed paths kept here, for work that does not fit one driver
or that the serving tier does not cover:

- ``exhaustive_topk``/``weighted_topk``: the declarative scan engine
  (decode matching posting lists -> score -> groupBy(doc).sum ->
  TakeOrderedAndProject), the analog of the reference's singleSearch full
  scan (ref: src/cis5550/jobs/RankScore.java:147-185). ``scoring=
  "ref_tfidf"`` is the only copy of the reference's own TF-IDF formula,
  and it is the scorer behind ``spelling.fuzzy_topk`` and
  ``fusion.hybrid_topk``.
- ``prefix_topk``/``wildcard_topk``/``regexp_term_topk``: expand against
  the whole term dictionary (the facade expands the top-df vocabulary).
- ``facet_counts``: uncapped (the facade caps its candidates).
- ``more_like_this``: ranks by BM25 (the facade's ``related`` ranks by the
  priority blend).
- ``wand_topk``: per-shard document-at-a-time block-max WAND in a NumPy
  ``applyInPandas`` kernel, then a global top-k merge; shards partition
  the doc_id universe, so per-shard WAND is exact.
- ``batch_topk``: top-k for a whole query table in one plan.

Ties break (score desc, doc_id asc) everywhere, including the oracle.
"""

from __future__ import annotations

from collections import Counter
from typing import TYPE_CHECKING, Iterator

import numpy as np

from google_spark import bm25_idf, bm25_term
from google_spark.functions.codec import decode_postings_arrays, not_deleted_mask
from google_spark.functions.tokenizer import tokenize
from google_spark.operators.index_build import IndexTables, term_stats
from google_spark.session import point_read

if TYPE_CHECKING:
    import pandas as pd
    from pyspark.sql import DataFrame


def query_terms(query: str, mode: str = "simple", stem: bool = False) -> list[str]:
    """Tokenize a query with the same kernel as documents (multiplicity kept
    — repeated terms weight like the reference's queryFreq,
    ref: src/cis5550/jobs/RankScore.java:176)."""
    return [t for t, _ in tokenize(query, mode=mode, stem=stem)]


DECODED_SCHEMA = "term string, doc_id long, tf int, dl int"

# Candidate-set size below which the shard kernel scores vectorized instead
# of running the WAND pivot loop (module-level so tests can force either).
# The vectorized accumulation is O(total postings) with NumPy constants
# (~30M postings/sec) and ~16 bytes/posting transient memory; the pivot
# loop's python-level per-document cost only amortizes once a kernel's
# candidate set is in the many-millions. 5M postings ≈ 80 MB transient.
WAND_FASTPATH_MAX = 5_000_000


def _decode_matching(matching: DataFrame) -> DataFrame:
    """Decode the matching postings blobs into (term, doc_id, tf, dl) rows.
    ``matching`` comes from IndexTables.matching(): term filter pushed to
    the parquet scan (row groups of key-sorted files skip on their term
    min/max; tb= directories of earlier builds are partition-pruned)."""
    import pandas as pd

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            t_out, d_out, tf_out, dl_out = [], [], [], []
            for term, blob in zip(pdf["term"].values, pdf["postings"].values):
                doc_ids, tfs, dls = decode_postings_arrays(bytes(blob))
                t_out.extend([term] * len(doc_ids))
                d_out.extend(doc_ids)
                tf_out.extend(tfs)
                dl_out.extend(dls)
            yield pd.DataFrame(
                {
                    "term": t_out,
                    "doc_id": pd.Series(d_out, dtype="int64"),
                    "tf": pd.Series(tf_out, dtype="int32"),
                    "dl": pd.Series(dl_out, dtype="int32"),
                }
            )

    return matching.select("term", "postings").mapInPandas(
        gen, schema=DECODED_SCHEMA
    )


def exhaustive_topk(
    index: IndexTables,
    query: str,
    k: int = 10,
    mode: str = "simple",
    stem: bool = False,
    scoring: str = "bm25",
) -> DataFrame:
    """DataFrame[doc_id, score] — top-k by exhaustive scoring.

    ``scoring="bm25"`` (default) is the engine's ranking function.
    ``scoring="ref_tfidf"`` reproduces the REFERENCE's formula exactly for
    fidelity testing: per-term score = queryFreq * (count/doclen) *
    ln(N/df) * 10 — normalized tf from Indexer.java:181-187
    (``wordCountInverse``), idf = ln(pageCount/df) from
    Indexer.java:238-242, and the queryFreq * tf * idf * 10 blend from
    RankScore.java:171-178 (singleSearch)."""

    terms = query_terms(query, mode=mode, stem=stem)
    return weighted_topk(
        index, dict(Counter(terms)), k=k, scoring=scoring
    )


def weighted_topk(
    index: IndexTables,
    weights: dict[str, float],
    k: int = 10,
    scoring: str = "bm25",
) -> DataFrame:
    """Top-k over an explicit {term: weight} map — the distributed scan
    behind :func:`exhaustive_topk` (multiplicity weights), :func:`prefix_topk`
    (dictionary-expanded terms) and the synonym path (decayed weights).

    The per-term weight and idf are tiny query-side constants, so they ride
    into the decode kernel as closures (idf needs global df, fetched with
    one scan of the pruned per-shard df column) — the decode emits scored
    rows directly and the plan is scan -> kernel -> partial/final sum ->
    TakeOrderedAndProject, with no joins."""
    import pandas as pd
    from pyspark.sql import functions as F

    spark = index.postings.sparkSession
    qf = {t: float(w) for t, w in weights.items() if w}
    if not qf:
        return spark.createDataFrame([], "doc_id long, score double")
    matching = index.matching(list(qf))
    df_rows = matching.groupBy("term").agg(F.sum("df").alias("df")).collect()
    import math

    n = index.n_docs
    if scoring == "ref_tfidf":
        widf = {
            r["term"]: float(qf[r["term"]])
            * math.log(n / int(r["df"]))
            * 10.0
            for r in df_rows
        }
    else:
        widf = {
            r["term"]: float(qf[r["term"]]) * bm25_idf(n, int(r["df"]))
            for r in df_rows
        }
    avgdl = index.avgdl
    deletes = index.deletes

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            d_out, s_out = [], []
            for term, blob in zip(pdf["term"].values, pdf["postings"].values):
                doc_ids, tfs, dls = decode_postings_arrays(bytes(blob))
                if deletes is not None and len(deletes):
                    keep = not_deleted_mask(doc_ids, deletes)
                    doc_ids, tfs, dls = doc_ids[keep], tfs[keep], dls[keep]
                w = widf[term]
                tf = tfs.astype(np.float64)
                dl = dls.astype(np.float64)
                if scoring == "ref_tfidf":
                    scores = w * tf / dl
                else:
                    scores = bm25_term(w, tf, dl, avgdl)
                d_out.append(doc_ids)
                s_out.append(scores)
            if d_out:
                yield pd.DataFrame(
                    {
                        "doc_id": pd.Series(np.concatenate(d_out), dtype="int64"),
                        "score": pd.Series(np.concatenate(s_out), dtype="float64"),
                    }
                )

    scored = matching.select("term", "postings").mapInPandas(
        gen, schema="doc_id long, score double"
    )
    return (
        scored.groupBy("doc_id")
        .agg(F.sum("score").alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


def parse_boolean_query(
    query: str, mode: str = "simple", stem: bool = False
) -> tuple[list[str], list[str], list[str]]:
    """Split ``"+hash join -merge"`` into (must, should, must_not) term
    lists, each run through the document tokenizer for parity. ``+`` marks a
    required term, ``-`` an excluded one, bare words are optional scorers —
    the Lucene BooleanQuery MUST/SHOULD/MUST_NOT surface the reference's
    AND-ish singleSearch (ref: src/cis5550/jobs/RankScore.java:147-185)
    never grew."""
    must: list[str] = []
    should: list[str] = []
    must_not: list[str] = []
    for raw in query.split():
        bucket = should
        if raw.startswith("+"):
            bucket, raw = must, raw[1:]
        elif raw.startswith("-"):
            bucket, raw = must_not, raw[1:]
        bucket.extend(query_terms(raw, mode=mode, stem=stem))
    return must, should, must_not


def prefix_topk(
    index: IndexTables,
    prefix: str,
    k: int = 10,
    max_expand: int = 32,
) -> DataFrame:
    """Wildcard query ``prefix*``: expand against the term dictionary,
    keeping the ``max_expand`` highest-df matches (ties by term asc) — the
    Lucene MultiTermQuery rewrite-cap analog, so a one-letter prefix over a
    10^9-term dictionary stays bounded — then score the expansion as an OR
    query (weight 1.0 per term) through :func:`weighted_topk`.

    The dictionary probe is a scan of the (term, df) relation with the
    prefix pushed down as a StartsWith filter; the collect is capped at
    ``max_expand`` rows."""
    from pyspark.sql import functions as F

    spark = index.postings.sparkSession
    rows = (
        index.terms.filter(F.col("term").startswith(prefix))
        .select("term", "df")
        .orderBy(F.desc("df"), F.asc("term"))
        .limit(max_expand)
        .collect()
    )
    if not rows:
        return spark.createDataFrame([], "doc_id long, score double")
    return weighted_topk(index, {r["term"]: 1.0 for r in rows}, k=k)


def wildcard_regex(pattern: str) -> str:
    """Anchored regex for a wildcard term pattern: ``*`` matches any run
    (including empty), ``?`` exactly one character, everything else is a
    literal (regex metacharacters escaped). Shared by the engine probe
    and exposed so oracles can reproduce the exact expansion."""
    import re

    parts = []
    for ch in pattern:
        if ch == "*":
            parts.append(".*")
        elif ch == "?":
            parts.append(".")
        else:
            parts.append(re.escape(ch))
    return "^" + "".join(parts) + "$"


def wildcard_topk(
    index: IndexTables,
    pattern: str,
    k: int = 10,
    max_expand: int = 32,
) -> DataFrame:
    """General wildcard term query (the Lucene WildcardQuery analog,
    generalizing :func:`prefix_topk`): ``*`` matches any run of
    characters, ``?`` exactly one. Matching terms from the dictionary —
    capped at the ``max_expand`` highest-df (ties term asc), the
    MultiTermQuery rewrite cap — score as an OR query through
    :func:`weighted_topk`.

    Scale shape: the longest literal prefix before the first wildcard is
    pushed into the (term, df) dictionary scan as a StartsWith parquet
    filter, then the anchored regex verifies the survivors — so
    ``spar?`` touches one dictionary range while the corpus is never
    scanned at all. A LEADING-wildcard pattern (``*ing``) degrades to a
    full dictionary scan: O(vocab), still corpus-independent (Lucene's
    reversed-term field is the escape hatch when the dictionary itself
    is huge; unnecessary here — a 100 TB corpus has a vocabulary orders
    of magnitude smaller than its postings)."""
    from pyspark.sql import functions as F

    spark = index.postings.sparkSession
    rx = wildcard_regex(pattern)
    terms = index.terms
    lit_prefix = pattern.split("*", 1)[0].split("?", 1)[0]
    if lit_prefix:
        terms = terms.filter(F.col("term").startswith(lit_prefix))
    rows = (
        terms.filter(F.col("term").rlike(rx))
        .select("term", "df")
        .orderBy(F.desc("df"), F.asc("term"))
        .limit(max_expand)
        .collect()
    )
    if not rows:
        return spark.createDataFrame([], "doc_id long, score double")
    return weighted_topk(index, {r["term"]: 1.0 for r in rows}, k=k)


def regexp_term_topk(
    index: IndexTables,
    regex: str,
    k: int = 10,
    max_expand: int = 32,
) -> DataFrame:
    """Regex TERM query (the Lucene RegexpQuery analog, completing the
    MultiTermQuery family with :func:`prefix_topk`/:func:`wildcard_topk`):
    dictionary terms fully matching ``regex`` (it is anchored both ends,
    Lucene-style — pass ``.*`` explicitly for contains semantics), capped
    at the ``max_expand`` highest-df (ties term asc), OR-scored through
    :func:`weighted_topk`. This matches against the VOCABULARY — for
    regex over document CONTENT use the trigram-index regex_search.

    The dictionary probe is one (term, df) scan with the anchored rlike
    in the scan's Filter — O(vocab), corpus-independent (regex literals
    are not extracted into a StartsWith here; anchor-aware prefix
    extraction is what :func:`wildcard_topk` does for its grammar)."""
    from pyspark.sql import functions as F

    spark = index.postings.sparkSession
    # wrap in a non-capturing group so the anchors bind the WHOLE pattern:
    # naive "^" + regex + "$" breaks on top-level alternation ("foo|bar"
    # would become "^foo|bar$", full-matching neither side under rlike's
    # find() semantics — "food" and "rebar" would both expand)
    anchored = f"^(?:{regex})$"
    rows = (
        index.terms.filter(F.col("term").rlike(anchored))
        .select("term", "df")
        .orderBy(F.desc("df"), F.asc("term"))
        .limit(max_expand)
        .collect()
    )
    if not rows:
        return spark.createDataFrame([], "doc_id long, score double")
    return weighted_topk(index, {r["term"]: 1.0 for r in rows}, k=k)


def facet_counts(
    index: IndexTables,
    meta: DataFrame,
    query: str,
    facet_cols: list[str] | None = None,
    mode: str = "simple",
    stem: bool = False,
    id_col: str = "doc_id",
) -> DataFrame:
    """(facet, value, n_docs) — facet counts over the documents matching
    ANY query term (the search-results sidebar: "lang: en (37) · de (4)"),
    one row per (facet column, distinct value). Output ordered
    (facet asc, value asc) for determinism. NULL facet values count under
    value NULL, like SQL GROUP BY.

    Scale shape: candidates come from ONE pruned index scan (term filter
    pushed to the parquet scan, which skips row groups on term min/max)
    reduced to a
    distinct doc_id relation — cost proportional to the query terms'
    posting lists, never the corpus; merge-on-read deletes are removed
    with a left-anti join against the (driver-resident) delete vector.
    The metadata join is doc_id-keyed, and each facet is a hash aggregate
    over the candidate rows; the per-facet frames union AFTER aggregation,
    so the union carries |distinct values| rows, not candidates."""
    from pyspark.sql import functions as F

    spark = index.postings.sparkSession
    if facet_cols is None:
        facet_cols = ["lang", "source"]
    out_schema = "facet string, value string, n_docs long"
    terms = sorted(set(query_terms(query, mode=mode, stem=stem)))
    if not terms:
        return spark.createDataFrame([], out_schema)
    cand = (
        _decode_matching(index.matching(terms))
        .select(F.col("doc_id").alias(id_col))
        .distinct()
    )
    deletes = index.deletes
    if deletes is not None and len(deletes):
        del_df = spark.createDataFrame(
            [(int(x),) for x in deletes], f"{id_col} long"
        )
        cand = cand.join(F.broadcast(del_df), id_col, "left_anti")
    matched = meta.join(cand, id_col)
    parts = [
        matched.groupBy(F.col(c).cast("string").alias("value")).agg(
            F.count("*").alias("n_docs")
        ).select(F.lit(c).alias("facet"), "value", "n_docs")
        for c in facet_cols
    ]
    allf = parts[0]
    for p in parts[1:]:
        allf = allf.unionByName(p)
    return allf.orderBy(F.asc("facet"), F.asc_nulls_first("value"))


def _topk_from_arrays(
    d_parts: list[np.ndarray], s_parts: list[np.ndarray], k: int
) -> tuple[np.ndarray, np.ndarray]:
    """Exact top-k (doc_ids int64, scores float64), ordered (score desc,
    doc_id asc), from per-term (docs, scores) arrays: one unique +
    bincount accumulation, boundary ties kept."""
    if not d_parts:
        return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.float64)
    all_docs = np.concatenate(d_parts)
    all_scores = np.concatenate(s_parts)
    uniq, inv = np.unique(all_docs, return_inverse=True)
    sums = np.bincount(inv, weights=all_scores)
    if k < len(uniq):
        kth = np.partition(sums, len(sums) - k)[len(sums) - k]
        cand = np.flatnonzero(sums >= kth)  # keep ALL boundary ties
    else:
        cand = np.arange(len(uniq))
    order = cand[np.lexsort((uniq[cand], -sums[cand]))][:k]
    return uniq[order], sums[order]


_FETCH_COLS = [
    "term", "df", "postings",
    "block_last_doc", "block_max_tf", "block_min_dl",
]


def _fetch_posting_rows(index: IndexTables, terms: list[str]) -> list:
    """Posting rows (``_FETCH_COLS``) for the given query terms, through
    :func:`~google_spark.session.point_read`: a published bundle or
    catalog snapshot is read with pyarrow and no Spark job — the analog
    of the reference's serve-time KVS ``get`` (ref:
    src/cis5550/jobs/RankScore.java:112,152 does per-word point reads, not
    a scan job); an in-memory index is one pruned Spark collect. Key-sorted
    files are pruned to one row group per term on the footers' term
    min/max. When the index may hold ``tb=`` bucket directories of earlier
    builds (``n_buckets`` set; a catalog may mix them with key-sorted
    segments in any order), the Python XXH64 twin (functions/xxh.py)
    computes the buckets that build wrote, so the read opens only those
    directories; files outside any ``tb=`` directory are kept."""
    from google_spark.functions.xxh import term_bucket

    prune = None
    if index.n_buckets:
        prune = {"tb": sorted({term_bucket(t, index.n_buckets) for t in terms})}
    return point_read(index.postings, "term", terms, _FETCH_COLS, prune)


def _decode_posting_row(row, deletes=None) -> dict:
    """Decode one posting row into reusable NumPy arrays. The serving row
    cache stores THESE (not raw rows), so a hot term's blob is decoded once
    per process, not once per query.

    ``deletes`` (sorted int64 array from the snapshot catalog's merge-on-
    read delete files) masks deleted docs out of the scoring arrays here —
    one central hook covers the driver serving path, the distributed WAND
    kernel, and the row cache. ``df`` and the block metadata stay at their
    stored (pre-delete) values: df keeps idf consistent across every query
    path until compaction, and block maxima remain valid UPPER bounds when
    docs are removed, so WAND pruning stays exact."""
    docs, tfs, dls = decode_postings_arrays(bytes(row["postings"]))
    if deletes is not None and len(deletes):
        keep = not_deleted_mask(docs, deletes)
        if not keep.all():
            docs, tfs, dls = docs[keep], tfs[keep], dls[keep]
    return {
        "term": row["term"],
        "df": int(row["df"]),
        "docs": docs,
        "tf": tfs.astype(np.float64),
        "dl": dls.astype(np.float64),
        "bl": np.asarray(row["block_last_doc"], dtype=np.int64),
        "bmax": np.asarray(row["block_max_tf"], dtype=np.float64),
        "bmin": np.asarray(row["block_min_dl"], dtype=np.float64),
    }


def _wand_shard_kernel(
    pdf: pd.DataFrame,
    weights: dict[str, float],
    idf: dict[str, float],
    avgdl: float,
    k: int,
    deletes=None,
) -> pd.DataFrame:
    """Exact top-k within one shard (see :func:`_kernel_decoded`), as the
    (doc_id, score) frame ``applyInPandas`` returns."""
    import pandas as pd

    doc_ids, scores = _kernel_decoded(
        [_decode_posting_row(row, deletes) for _, row in pdf.iterrows()],
        weights,
        idf,
        avgdl,
        k,
    )
    return pd.DataFrame({"doc_id": doc_ids, "score": scores})


def _kernel_decoded(
    entries: list[dict],
    weights: dict[str, float],
    idf: dict[str, float],
    avgdl: float,
    k: int,
) -> tuple[np.ndarray, np.ndarray]:
    """Exact top-k (doc_ids, scores) over decoded posting entries, ordered
    (score desc, doc_id asc).

    Small candidate sets (<= WAND_FASTPATH_MAX postings) score everything
    with one vectorized accumulation. Above that, block-max segment pruning
    (the WAND bound at block granularity, fully NumPy — no per-document
    Python loop):

    1. seed a threshold θ: the k-th best EXACT total score over the union
       of each term's top-k postings (θ is a lower bound on the true k-th
       score, so pruning against it is safe);
    2. sweep the union of the per-term block boundaries: within one segment
       every term stays inside one block, so the segment's upper bound is
       the sum of per-term block UBs ub_{t,j} = w·idf·(k1+1)·max_tf_j /
       (max_tf_j + k1·(1-b+b·min_dl_j/avgdl)) (score is monotone in tf,
       antitone in dl). Segments with UB < θ cannot contain a top-k doc;
    3. fully score only postings in surviving segments.

    Exactness: any true top-k doc d has UB(d) >= score(d) >= kth >= θ, so
    its segment survives (>= comparison keeps boundary ties); summation
    order per doc matches the fast path, so scores are bit-identical."""
    # (docs, score_arr, per-block UBs, block last_doc boundaries)
    cols: list[tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]] = []
    for e in entries:
        w = weights[e["term"]] * idf[e["term"]]
        scores = bm25_term(w, e["tf"], e["dl"], avgdl)
        ub_blocks = bm25_term(w, e["bmax"], e["bmin"], avgdl)
        cols.append((e["docs"], scores, ub_blocks, e["bl"]))
    cols = [c for c in cols if len(c[0])]
    if not cols:
        return _topk_from_arrays([], [], k)

    # Fast path: below this many postings, scoring everything beats any
    # pruning bookkeeping. The block-max path takes over for long lists.
    total = sum(len(c[0]) for c in cols)
    if total <= WAND_FASTPATH_MAX:
        return _topk_from_arrays([c[0] for c in cols], [c[1] for c in cols], k)

    # 1) seed threshold from each term's top-k postings, exact-scored
    seed = np.unique(
        np.concatenate(
            [
                c[0][np.argpartition(c[1], len(c[1]) - min(k, len(c[1])))[
                    len(c[1]) - min(k, len(c[1])):
                ]]
                for c in cols
            ]
        )
    )
    seed_tot = np.zeros(len(seed))
    for docs, scores, _ub, _bl in cols:
        idx = np.minimum(np.searchsorted(docs, seed), len(docs) - 1)
        seed_tot += np.where(docs[idx] == seed, scores[idx], 0.0)
    theta = (
        np.partition(seed_tot, len(seed_tot) - k)[len(seed_tot) - k]
        if len(seed_tot) >= k
        else -np.inf
    )

    # 2) segment sweep: union of block boundaries; per-segment UB sum
    bounds = np.unique(np.concatenate([bl for *_, bl in cols]))
    ub_tot = np.zeros(len(bounds))
    for _docs, _scores, ub_blocks, bl in cols:
        j = np.searchsorted(bl, bounds, side="left")
        ub_tot += np.where(
            j < len(bl), ub_blocks[np.minimum(j, len(bl) - 1)], 0.0
        )
    alive = ub_tot >= theta

    # 3) score only surviving segments
    d_parts, s_parts = [], []
    for docs, scores, _ub, _bl in cols:
        m = alive[np.searchsorted(bounds, docs, side="left")]
        d_parts.append(docs[m])
        s_parts.append(scores[m])
    return _topk_from_arrays(d_parts, s_parts, k)


def wand_topk(
    index: IndexTables, query: str, k: int = 10, mode: str = "simple", stem: bool = False
) -> DataFrame:
    """DataFrame[doc_id, score] — top-k via per-shard block-max WAND."""
    from pyspark.sql import functions as F

    spark = index.postings.sparkSession
    terms = query_terms(query, mode=mode, stem=stem)
    if not terms:
        return spark.createDataFrame([], "doc_id long, score double")
    qf = Counter(terms)
    weights = {t: float(c) for t, c in qf.items()}
    idf = index.idf_map(list(qf))
    avgdl = index.avgdl
    # merge-on-read deletes ride into the kernel closure. Delete files are
    # bounded by the compaction cadence (compact when |deletes| grows past
    # ~1% of the corpus); on a real cluster wrap in sc.broadcast for reuse
    # across the shard tasks instead of per-task pickling.
    deletes = index.deletes

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        return _wand_shard_kernel(pdf, weights, idf, avgdl, k, deletes)

    matching = index.matching(list(qf))
    per_shard = matching.groupBy("shard").applyInPandas(
        kernel, schema="doc_id long, score double"
    )
    return per_shard.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)


def batch_topk(
    index: IndexTables,
    queries: DataFrame,
    k: int = 10,
    query_id_col: str = "query_id",
    query_col: str = "query",
    mode: str = "simple",
    stem: bool = False,
    broadcast_queries: bool = True,
) -> DataFrame:
    """DataFrame[query_id, doc_id, score] — top-k for EVERY query in a
    query table, in one distributed plan.

    The reference engine answers one query per HTTP request (ref:
    src/cis5550/jobs/SearchApi.java:248-320); the Spark-native superpower
    is throughput: score a million-query eval batch against the index with
    two shuffles instead of a million driver round-trips. This is the
    offline-retrieval / relevance-eval path (query-log replay, judgment
    scoring, distillation-corpus mining).

    Plan shape (and why it scales):

    1. tokenize queries with the SAME kernel as documents -> per-query term
       multiplicity weights (query_id, term, w);
    2. left-semi join postings against the distinct query vocabulary
       (broadcast by default — a 1M-query batch has a vocabulary far
       smaller than the index), so only matching posting rows are ever
       DECODED;
    3. decode matched rows once (mapInPandas, merge-on-read deletes
       masked), join decoded (term, doc_id, tf, dl) with the per-query
       weighted terms — the join key is ``term``, the broadcast side is
       query-sized, the big side streams;
    4. BM25 per (query, doc) with JVM-side expressions, partial-agg'd
       map-side by groupBy(query_id, doc_id);
    5. per-query exact top-k via a rank window partitioned by query_id
       (ties: score desc, doc_id asc — the engine-wide contract).

    ``broadcast_queries=False`` drops the broadcast hints for batches too
    large to broadcast (> ~10M query-term rows): both joins become
    shuffle joins on ``term`` and AQE re-plans from runtime sizes.

    Queries that tokenize to nothing (or match no indexed term) simply
    produce no output rows — same contract as ``wand_topk`` returning an
    empty frame."""
    import pandas as pd
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    spark = index.postings.sparkSession
    deletes = index.deletes
    n = index.n_docs
    avgdl = index.avgdl

    # query ids keep their source type (eval-set logs often use string ids
    # like 'q_0017'); integral types all ride as long, strings as object
    qid_spark_type = queries.schema[query_id_col].dataType.simpleString()
    if qid_spark_type in ("tinyint", "smallint", "int", "bigint"):
        qid_out_type, qid_pd_dtype = "long", "int64"
    elif qid_spark_type == "string":
        qid_out_type, qid_pd_dtype = "string", "object"
    else:
        raise TypeError(
            f"unsupported {query_id_col} type {qid_spark_type!r}: "
            "use an integral or string query id"
        )

    def tok(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            q_out, t_out, w_out = [], [], []
            for qid, text in zip(pdf[query_id_col].values, pdf[query_col].values):
                for term, cnt in Counter(
                    query_terms(text or "", mode=mode, stem=stem)
                ).items():
                    q_out.append(qid)
                    t_out.append(term)
                    w_out.append(float(cnt))
            yield pd.DataFrame(
                {
                    "query_id": pd.Series(q_out, dtype=qid_pd_dtype),
                    "term": pd.Series(t_out, dtype="object"),
                    "w": pd.Series(w_out, dtype="float64"),
                }
            )

    qt = queries.select(query_id_col, query_col).mapInPandas(
        tok, schema=f"query_id {qid_out_type}, term string, w double"
    )
    hint = F.broadcast if broadcast_queries else (lambda df: df)

    matched = index.postings.join(
        hint(qt.select("term").distinct()), "term", "left_semi"
    )
    # global df per matched term (sum over shards of the stored column) ->
    # idf; a metadata-sized aggregate, no posting blobs touched
    idf = term_stats(matched, n)
    qtw = qt.join(idf, "term").withColumn("weight", F.col("w") * F.col("idf"))

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            t_out, d_out, tf_out, dl_out = [], [], [], []
            for term, blob in zip(pdf["term"].values, pdf["postings"].values):
                doc_ids, tfs, dls = decode_postings_arrays(bytes(blob))
                if deletes is not None and len(deletes):
                    keep = not_deleted_mask(doc_ids, deletes)
                    doc_ids, tfs, dls = doc_ids[keep], tfs[keep], dls[keep]
                t_out.extend([term] * len(doc_ids))
                d_out.append(doc_ids)
                tf_out.append(tfs)
                dl_out.append(dls)
            if d_out:
                yield pd.DataFrame(
                    {
                        "term": pd.Series(t_out, dtype="object"),
                        "doc_id": pd.Series(np.concatenate(d_out), dtype="int64"),
                        "tf": pd.Series(np.concatenate(tf_out), dtype="int32"),
                        "dl": pd.Series(np.concatenate(dl_out), dtype="int32"),
                    }
                )

    decoded = matched.select("term", "postings").mapInPandas(
        gen, schema=DECODED_SCHEMA
    )
    term_score = bm25_term(
        F.col("weight"), F.col("tf").cast("double"), F.col("dl"), avgdl
    )
    scored = (
        decoded.join(hint(qtw.select("term", "query_id", "weight")), "term")
        .select("query_id", "doc_id", term_score.alias("s"))
        .groupBy("query_id", "doc_id")
        .agg(F.sum("s").alias("score"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("doc_id")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", "doc_id", "score")
    )


def positions_for(
    index: IndexTables, terms: list[str], doc_ids: set[int]
) -> dict[str, dict[int, list[int]]]:
    """term -> {doc_id -> positions} for a small candidate set (the
    phrase, proximity and NEAR paths). The terms' posting rows come
    through :func:`_fetch_posting_rows`, the same read the scoring path
    makes, and are decoded on the driver; only the candidates' positions
    are kept. That holds under the assumption wand_topk_local already
    makes (the query terms' posting rows fit one machine); a deployment
    that can't assume it should score with the distributed wand_topk."""
    from google_spark.functions.codec import decode_postings_full_np

    out: dict[str, dict[int, list[int]]] = {t: {} for t in terms}
    if not terms or not doc_ids:
        return out
    cand = np.array(sorted(doc_ids), dtype=np.int64)
    if index.deletes is not None and len(index.deletes):
        # candidates normally come from a (already delete-masked) top-k,
        # but a caller-supplied id set must not resurrect deleted docs
        cand = cand[not_deleted_mask(cand, index.deletes)]
        if not len(cand):
            return out
    for r in _fetch_posting_rows(index, terms):
        docs, _tfs, _dls, pos = decode_postings_full_np(bytes(r["postings"]))
        idx = np.minimum(np.searchsorted(cand, docs), len(cand) - 1)
        for i in np.flatnonzero(cand[idx] == docs):
            out[r["term"]][int(docs[i])] = pos[i].tolist()
    return out


def wand_topk_local(
    index: IndexTables,
    query: str,
    k: int = 10,
    mode: str = "simple",
    stem: bool = False,
    row_cache: dict | None = None,
) -> list[tuple[int, float]]:
    """Low-latency serving path: collect ONLY the query terms' compressed
    posting rows (partition-pruned, predicate-pushed scan — a few KB per
    term) and run the WAND kernel in the driver. This is the Spark analog
    of the reference's serve-time KVS point lookups (ref:
    src/cis5550/jobs/RankScore.java:112,152) without per-word RPCs: one
    pruned scan, then pure NumPy. Returns [(doc_id, score)] sorted
    (score desc, doc_id asc).

    Use for interactive queries; use :func:`wand_topk` when k or the
    candidate set is too large for one machine."""

    terms = query_terms(query, mode=mode, stem=stem)
    if not terms:
        return []
    weights = {t: float(c) for t, c in Counter(terms).items()}
    return local_topk_core(index, weights, k, row_cache=row_cache)


def _entries_for(
    index: IndexTables, terms: list[str], row_cache: dict | None = None
) -> list[dict]:
    """Decoded posting entries for the given terms via the serving point-
    read path, optionally through the hot-term RAM cache (the analog of the
    reference's serve-time preloads, ref:
    src/cis5550/jobs/SearchApi.java:135-145): fetch only terms not yet
    cached, in one pruned scan, and cache the DECODED arrays — a hot term's
    blob is decoded once per process, not once per query. Absent terms
    cache an empty list so they never re-scan."""
    if row_cache is None:
        return [
            _decode_posting_row(r, index.deletes)
            for r in _fetch_posting_rows(index, terms)
        ]
    missing = [t for t in terms if t not in row_cache]
    if missing:
        fetched = _fetch_posting_rows(index, missing)
        by_term: dict[str, list] = {t: [] for t in missing}
        for r in fetched:
            by_term[r["term"]].append(_decode_posting_row(r, index.deletes))
        # single __setitem__ per term — lets byte-accounting cache dicts
        # observe every insertion without rescanning entries per query
        for t, es in by_term.items():
            row_cache[t] = es
    return [e for t in terms for e in row_cache.get(t, [])]


def entries_idf(entries: list[dict], n_docs: int) -> dict[str, float]:
    """term -> BM25 idf for fetched posting entries. Global df is the sum
    of the per-shard df of the rows just fetched, so no terms-table lookup
    is needed."""
    df_total: dict[str, int] = {}
    for e in entries:
        df_total[e["term"]] = df_total.get(e["term"], 0) + e["df"]
    return {t: bm25_idf(n_docs, d) for t, d in df_total.items()}


def docs_containing(
    index: IndexTables, terms: list[str], row_cache: dict | None = None
) -> np.ndarray:
    """Sorted unique doc_ids containing ANY of ``terms`` (the ``-term``
    exclusion set in the query language). Same point-read/cache path and
    the same one-machine assumption as the rest of the serving tier: the
    excluded terms' posting rows fit the driver."""
    if not terms:
        return np.empty(0, dtype=np.int64)
    entries = _entries_for(index, terms, row_cache)
    if not entries:
        return np.empty(0, dtype=np.int64)
    return np.unique(np.concatenate([e["docs"] for e in entries]))


def local_topk_core(
    index: IndexTables,
    weights: dict[str, float],
    k: int,
    row_cache: dict | None = None,
) -> list[tuple[int, float]]:
    """Shared serving core for any per-term weight map (plain queries use
    query multiplicity; synonym expansion uses decayed weights): fetch the
    pruned posting rows, reconstruct idf from their per-shard df, run the
    shard kernel. ONE Spark action per call (zero when fully cached)."""
    terms = [t for t, w in weights.items() if w > 0]
    if not terms:
        return []
    entries = _entries_for(index, terms, row_cache)
    if not entries:
        return []
    idf = entries_idf(entries, index.n_docs)
    doc_ids, scores = _kernel_decoded(entries, weights, idf, index.avgdl, k)
    return list(zip(doc_ids.tolist(), scores.tolist()))


def more_like_this(
    index: IndexTables,
    docs: DataFrame,
    doc_id: int,
    k: int = 10,
    n_query_terms: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
    mode: str = "simple",
    stem: bool = False,
) -> DataFrame:
    """DataFrame[doc_id, score] — the k documents most similar to
    ``doc_id`` (the "related pages" feature): the source document's
    ``n_query_terms`` most salient terms (tf * idf, ties by term) become
    a BM25 query against the index, the source itself excluded.

    ``mode``/``stem`` MUST match how the index was built (as with every
    query entry point) — on a stem-built index an unstemmed tokenization
    would miss the whole vocabulary, degrade the salience ranking to an
    arbitrary pick, and return empty results.

    Driver work is bounded by ONE document: a point lookup of its text
    (partition-pruned under the disk/docstore layout), its own term
    counts, and an idf fetch for its distinct terms (the same
    vocabulary-sized pruned scan every query makes). Scoring then runs
    the ordinary distributed WAND path — no corpus scan, no O(corpus)
    state."""
    from collections import Counter as _Counter

    from pyspark.sql import functions as F

    from google_spark.functions.tokenizer import tokenize

    spark = index.postings.sparkSession
    row = docs.filter(F.col(id_col) == doc_id).select(text_col).take(1)
    if not row or row[0][0] is None:
        return spark.createDataFrame([], f"{id_col} long, score double")
    tf = _Counter(t for t, _ in tokenize(row[0][0], mode=mode, stem=stem))
    idf = index.idf_map(list(tf))
    salient = sorted(
        tf,
        key=lambda t: (-tf[t] * idf.get(t, 0.0), t),
    )[:n_query_terms]
    if not salient:
        return spark.createDataFrame([], f"{id_col} long, score double")
    # salient terms are already in index vocabulary form; stem=False here
    # would double-stem nothing (terms are post-stem), so pass them raw
    hits = wand_topk(index, " ".join(salient), k=k + 1, mode=mode)
    # wand_topk's output column is always doc_id; rename so both return
    # paths of this function use the caller's id_col
    return (
        hits.filter(F.col("doc_id") != doc_id)
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
        .withColumnRenamed("doc_id", id_col)
    )


def round6_half_up(x: float) -> float:
    """HALF-UP decimal rounding at 6 dp, the rounding Spark's F.round does
    (BigDecimal.valueOf(double).setScale(6, HALF_UP); repr() is the
    shortest-round-trip string, Double.toString's analog); Python's
    built-in round() is banker's. ``SearchEngine.prf`` puts its feedback
    scores and mined expansion weights on this grid, so ulp-level
    differences in summation order cannot change which terms expand or
    their weights."""
    from decimal import ROUND_HALF_UP, Decimal

    return float(
        Decimal(repr(x)).quantize(Decimal("1e-6"), rounding=ROUND_HALF_UP)
    )
