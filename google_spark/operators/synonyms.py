"""Synonym expansion + decayed synonym scoring (SURVEY.md §2.3 D17/D20).

The reference loads GloVe vectors and expands each query word with its
top-5 cosine neighbours (ref: src/cis5550/jobs/ProcessInput.java:63-121,
loaded at src/cis5550/jobs/SearchApi.java:147-160), then scores synonym
matches with a decaying weight 0.5, 0.25, ... per neighbour rank (ref:
src/cis5550/jobs/RankScore.java:107-145, decay at 110,137).

Spark-first: the word-vector table is any DataFrame (word, vector). Query
expansion is driver-side NumPy over the (small) vocabulary slice — queries
are tiny; shipping them to a cluster would be the reference's
one-RPC-per-word mistake in reverse. Scoring reuses the BM25 kernel with a
weight column, so synonym hits flow through the same top-k machinery.

No pretrained embeddings exist offline; ``synthetic_word_vectors`` builds a
deterministic co-occurrence-flavoured embedding for tests (words sharing
corpus context land near each other).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession

SYNONYM_BASE_WEIGHT = 0.5  # reference: first synonym weight (RankScore.java:110)


def synonym_weights(n: int) -> list[float]:
    """0.5, 0.25, 0.125, ... — the reference's per-rank halving."""
    return [SYNONYM_BASE_WEIGHT / (2**i) for i in range(n)]


def load_word_vectors(word_vectors: DataFrame) -> tuple[dict[str, int], np.ndarray]:
    """Collect a (word, vector) DataFrame into an index + matrix. Intended
    for vocabulary-sized tables (the GloVe analog); at larger scale slice
    with a semi-join against the corpus vocabulary first."""
    rows = word_vectors.collect()
    words = {r[0]: i for i, r in enumerate(rows)}
    mat = np.asarray([list(r[1]) for r in rows], dtype=np.float64)
    norms = np.linalg.norm(mat, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    return words, mat / norms


def expand_query(
    terms: list[str],
    words: dict[str, int],
    mat: np.ndarray,
    topn: int = 5,
) -> dict[str, list[tuple[str, float]]]:
    """term -> [(synonym, weight)] with the reference's decay; the term
    itself is excluded; unknown terms expand to nothing."""
    inv = {i: w for w, i in words.items()}
    vocab_np = np.array([inv[i] for i in range(len(words))])  # unicode dtype
    out: dict[str, list[tuple[str, float]]] = {}
    for t in terms:
        i = words.get(t)
        if i is None:
            out[t] = []
            continue
        sims = mat @ mat[i]
        # deterministic tie-break (sim desc, word asc) — matches the SQL
        # oracle's ORDER BY; plain argsort's unstable tie order would
        # diverge whenever two vectors are identical
        order = np.lexsort((vocab_np, -sims))
        picked: list[tuple[str, float]] = []
        weights = synonym_weights(topn)
        for j in order:
            if int(j) == i:
                continue
            picked.append((inv[int(j)], weights[len(picked)]))
            if len(picked) == topn:
                break
        out[t] = picked
    return out


def synonym_topk(
    index,
    query: str,
    words: dict[str, int],
    mat: np.ndarray,
    k: int = 10,
    topn: int = 5,
    mode: str = "simple",
):
    """Top-k over the ORIGINAL terms (weight = query multiplicity) plus
    their synonyms at decayed weights — D18 + D20 combined, reusing the
    shared serving core so the two top-k paths cannot drift. Returns
    [(doc_id, score)] sorted (score desc, doc_id asc)."""
    from collections import Counter

    from google_spark.operators.index_query import local_topk_core, query_terms

    base = query_terms(query, mode=mode)
    if not base:
        return []
    weights: dict[str, float] = {
        t: float(c) for t, c in Counter(base).items()
    }
    for t, syns in expand_query(list(dict.fromkeys(base)), words, mat, topn).items():
        for s, w in syns:
            weights[s] = max(weights.get(s, 0.0), w)
    return local_topk_core(index, weights, k)


def synthetic_vectors(
    vocab: list[str], dim: int = 32, seed: int = 5,
    clusters: dict[str, list[str]] | None = None,
) -> dict[str, np.ndarray]:
    """Deterministic word vectors (pure NumPy, no Spark): random unit-ish
    vectors, with optional clusters whose members share a base vector
    (making them mutual nearest neighbours). Seeded, so the Spark table
    builder ``synthetic_word_vectors`` gives the same vectors in every run
    (tests/test_synonyms.py::test_synonym_topk_boosts_synonym_docs relies
    on its clusters)."""
    rng = np.random.default_rng(seed)
    vecs: dict[str, np.ndarray] = {
        w: rng.standard_normal(dim) for w in vocab
    }
    for base_word, members in (clusters or {}).items():
        base = vecs.setdefault(base_word, rng.standard_normal(dim))
        for m in members:
            vecs[m] = base + 0.05 * rng.standard_normal(dim)
    return vecs


def synthetic_word_vectors(
    spark: SparkSession, vocab: list[str], dim: int = 32, seed: int = 5,
    clusters: dict[str, list[str]] | None = None,
) -> DataFrame:
    """Deterministic word-vector DataFrame for tests and contracts."""
    vecs = synthetic_vectors(vocab, dim=dim, seed=seed, clusters=clusters)
    rows = [(w, [float(x) for x in v]) for w, v in vecs.items()]
    return spark.createDataFrame(rows, "word string, vector array<double>")
