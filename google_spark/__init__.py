"""google_spark — a brand-new PySpark-native inverted-index build + BM25
query engine, with the capabilities of the reference search engine
(`/root/reference`, CIS5550 "NetNinjas": crawl -> tokenize/stem -> inverted
index with positions/TF/IDF -> PageRank -> TF-IDF ranked top-k), re-expressed
Spark-first:

- DataFrame + vectorized pandas/Arrow UDFs everywhere (no per-row Python)
- typed posting lists (delta-gap + varint ``BinaryType`` blobs) instead of the
  reference's ``\\r\\n``-delimited text rows (ref: src/cis5550/jobs/Indexer.java:184-226)
- doc-id-sharded, skew-proof index partitioning instead of rowKey salting
  (ref: src/cis5550/jobs/Indexer.java:28-33)
- BM25 + block-max WAND top-k instead of full-sort TF-IDF
  (ref: src/cis5550/jobs/RankScore.java:64-76,147-185)
- DataFrame-loop PageRank instead of the Flame foldByKey loop
  (ref: src/cis5550/jobs/PageRank.java:114-224)
"""

import math

__version__ = "0.1.0"

BM25_K1 = 1.2
BM25_B = 0.75


def bm25_idf(n_docs: int, df: int) -> float:
    """BM25 idf ``ln(1 + (N - df + 0.5) / (df + 0.5))`` of a term found in
    ``df`` of ``n_docs`` documents. The Spark-Column form of the same
    expression is ``index_build.term_stats``."""
    return math.log((n_docs - df + 0.5) / (df + 0.5) + 1.0)


def bm25_term(w, tf, dl, avgdl):
    """One term's BM25 score, ``w`` being query weight × idf (the
    reference's ``score += TF·IDF·w`` kernel, RankScore.java:107-185, with
    BM25 saturation). Plain operators only, so the one body scores floats,
    NumPy arrays and Spark Columns; every engine path calls it, so every
    path does the same float operations in the same order."""
    return (
        w * tf * (BM25_K1 + 1.0)
        / (tf + BM25_K1 * (1.0 - BM25_B + BM25_B * dl / avgdl))
    )


# name -> (module, attribute) of the lazy top-level surface
_LAZY = {
    "SearchEngine": ("google_spark.search", "SearchEngine"),
    "build_index": ("google_spark.operators.index_build", "build_index"),
    "read_index": ("google_spark.operators.index_build", "read_index"),
    "write_index": ("google_spark.operators.index_build", "write_index"),
    "wand_topk": ("google_spark.operators.index_query", "wand_topk"),
    "wand_topk_local": ("google_spark.operators.index_query", "wand_topk_local"),
    "exhaustive_topk": ("google_spark.operators.index_query", "exhaustive_topk"),
    "pagerank": ("google_spark.operators.pagerank", "pagerank"),
    "get_spark": ("google_spark.session", "get_spark"),
    "build_docstore": ("google_spark.operators.docstore", "build_docstore"),
    "exact_dedup": ("google_spark.operators.dedup", "exact_dedup"),
    "minhash_near_dups": ("google_spark.operators.dedup", "minhash_near_dups"),
    "simhash_fingerprints": ("google_spark.operators.dedup", "simhash_fingerprints"),
    "batch_topk": ("google_spark.operators.index_query", "batch_topk"),
    "SnapshotCatalog": ("google_spark.operators.catalog", "SnapshotCatalog"),
    "serve": ("google_spark.server", "serve"),
    "start_server": ("google_spark.server", "start_server"),
    "build_fielded_index": ("google_spark.operators.fielded", "build_fielded_index"),
    "bm25f_index_topk": ("google_spark.operators.fielded", "bm25f_index_topk"),
    "bm25f_local_topk": ("google_spark.operators.fielded", "bm25f_local_topk"),
    "cluster_dedup": ("google_spark.operators.components", "cluster_dedup"),
    "contamination_flags": ("google_spark.operators.dedup", "contamination_flags"),
    "global_line_dedup": ("google_spark.operators.dedup", "global_line_dedup"),
    "duplicate_spans": ("google_spark.operators.dedup", "duplicate_spans"),
    "anchor_texts": ("google_spark.operators.pagerank", "anchor_texts"),
    "extract_symbols": ("google_spark.operators.docstore", "extract_symbols"),
    "symbol_search": ("google_spark.operators.docstore", "symbol_search"),
    "remove_duplicate_spans": (
        "google_spark.operators.dedup",
        "remove_duplicate_spans",
    ),
    "incremental_near_dups": ("google_spark.operators.dedup", "incremental_near_dups"),
    "write_signature_store": ("google_spark.operators.dedup", "write_signature_store"),
    "compact_signature_store": ("google_spark.operators.dedup", "compact_signature_store"),
    "scrub_pii": ("google_spark.operators.text_analysis", "scrub_pii"),
    "pack_sequences": ("google_spark.operators.sampling", "pack_sequences"),
    "pack_corpus": ("google_spark.operators.sampling", "pack_corpus"),
    "sample_stratified": ("google_spark.operators.sampling", "sample_stratified"),
    "mix_by_temperature": (
        "google_spark.operators.sampling",
        "mix_by_temperature",
    ),
    "dsir_weights": ("google_spark.operators.sampling", "dsir_weights"),
    "dsir_resample": ("google_spark.operators.sampling", "dsir_resample"),
    "langid_ngram_train": (
        "google_spark.operators.text_analysis",
        "langid_ngram_train",
    ),
    "langid_ngram_classify": (
        "google_spark.operators.text_analysis",
        "langid_ngram_classify",
    ),
    "detect_license": (
        "google_spark.operators.text_analysis",
        "detect_license",
    ),
    "char_entropy": (
        "google_spark.operators.text_analysis",
        "char_entropy",
    ),
    "code_rules": (
        "google_spark.operators.text_analysis",
        "code_rules",
    ),
    "normalize_text": (
        "google_spark.operators.text_analysis",
        "normalize_text",
    ),
    "repo_near_dups": ("google_spark.operators.dedup", "repo_near_dups"),
    "collapse_forks": ("google_spark.operators.dedup", "collapse_forks"),
    "assign_split": ("google_spark.operators.sampling", "assign_split"),
    "split_chunks": ("google_spark.operators.docstore", "split_chunks"),
    "winnow_fingerprints": ("google_spark.operators.dedup", "winnow_fingerprints"),
    "clone_pairs": ("google_spark.operators.dedup", "clone_pairs"),
    "clone_matches": ("google_spark.operators.dedup", "clone_matches"),
    "cluster_dedup_by_score": (
        "google_spark.operators.components",
        "cluster_dedup_by_score",
    ),
    "prefix_topk": ("google_spark.operators.index_query", "prefix_topk"),
    "wildcard_topk": ("google_spark.operators.index_query", "wildcard_topk"),
    "regexp_term_topk": (
        "google_spark.operators.index_query",
        "regexp_term_topk",
    ),
    "weighted_topk": ("google_spark.operators.index_query", "weighted_topk"),
    "keywords_tfidf": ("google_spark.operators.text_analysis", "keywords_tfidf"),
    "pmi_bigrams": ("google_spark.operators.text_analysis", "pmi_bigrams"),
    "bigram_logprob": ("google_spark.operators.text_analysis", "bigram_logprob"),
    "facet_counts": ("google_spark.operators.index_query", "facet_counts"),
    "fuzzy_topk": ("google_spark.operators.spelling", "fuzzy_topk"),
    "containment_pairs": ("google_spark.operators.dedup", "containment_pairs"),
    "containment_near_dups": (
        "google_spark.operators.dedup",
        "containment_near_dups",
    ),
    "build_trigram_index": (
        "google_spark.operators.trigram",
        "build_trigram_index",
    ),
    "write_trigram_index": (
        "google_spark.operators.trigram",
        "write_trigram_index",
    ),
    "read_trigram_index": (
        "google_spark.operators.trigram",
        "read_trigram_index",
    ),
    "regex_search": ("google_spark.operators.trigram", "regex_search"),
    "substring_search": (
        "google_spark.operators.trigram",
        "substring_search",
    ),
    "grep_lines": ("google_spark.operators.trigram", "grep_lines"),
    "append_trigram_index": (
        "google_spark.operators.trigram",
        "append_trigram_index",
    ),
    "compact_trigram_index": (
        "google_spark.operators.trigram",
        "compact_trigram_index",
    ),
    "delete_from_trigram_index": (
        "google_spark.operators.trigram",
        "delete_from_trigram_index",
    ),
    "delete_from_fielded_index": (
        "google_spark.operators.fielded",
        "delete_from_fielded_index",
    ),
    "delete_from_index": (
        "google_spark.operators.index_build",
        "delete_from_index",
    ),
    "train_bpe": ("google_spark.functions.bpe", "train_bpe"),
    "save_bpe": ("google_spark.functions.bpe", "save_bpe"),
    "load_bpe": ("google_spark.functions.bpe", "load_bpe"),
    "bpe_encode": ("google_spark.functions.bpe", "bpe_encode"),
    "bpe_token_count": (
        "google_spark.functions.bpe",
        "bpe_token_count",
    ),
}


def __getattr__(name):
    """Lazy top-level surface: ``from google_spark import SearchEngine`` etc.
    without importing pyspark at package-import time (keeps the oracle /
    corpus side importable in Spark-free contexts)."""
    if name in _LAZY:
        import importlib

        mod, attr = _LAZY[name]
        return getattr(importlib.import_module(mod), attr)
    raise AttributeError(f"module 'google_spark' has no attribute {name!r}")
