"""Document deduplication: exact, MinHash+LSH, SimHash, n-gram Jaccard
(training-data pipeline ops; SURVEY.md §2 coverage extension).

Design for 100 TB:
- exact dedup is one hash aggregate on sha256(text) — never on the raw text
  (group keys stay 32 bytes, the shuffle carries no documents);
- MinHash signatures are computed scan-side with JVM higher-order functions
  (split -> shingle -> md5 -> array_min), so the only shuffle is the LSH
  band exchange of (band_key, doc_id) pairs — a few dozen bytes per doc;
- LSH buckets self-join per (band, key); a bucket-size cap drops degenerate
  buckets (boilerplate shingles) the way the reference drops hot rowKeys by
  salting (ref: src/cis5550/jobs/Indexer.java:28-33) — skew control is a
  visible knob, not an accident;
- candidate pairs are verified with exact token-set Jaccard before any doc
  is dropped (LSH is a filter, not a verdict).

The MinHash family hashes each distinct shingle ONCE with md5 (base hash
x = first 48 digest bits mod p) and applies a Carter-Wegman family
``g_j(x) = (A[j]*x' + B[j]) mod p`` with p = 2^31-1 and fixed constants —
one digest per shingle instead of n_hashes of them, decorrelated minima
across j (a plain linear combo without the mod lets a single shared
shingle dominate every band). All arithmetic stays below 2^63 so any
engine with md5 + hex parsing + int64 mod reproduces it bit-for-bit
(tests/test_dedup.py::test_minhash_signature_matches_reference replays it
in pure Python).

Signatures are computed by explode -> hash -> groupBy(doc).agg(16 mins):
one md5 per shingle *row*, partial aggregation scan-side, whole-stage
codegen — measured ~10x faster than evaluating 16 nested array-lambda
expressions, which Spark does not common-subexpression-eliminate.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

DEFAULT_N_HASHES = 16
DEFAULT_N_BANDS = 4
DEFAULT_SHINGLE_K = 3

# Carter-Wegman family constants (fixed; generated once from a seeded PRNG
# and frozen as literals so every engine agrees; the pure-Python replay in
# tests/test_dedup.py::test_minhash_signature_matches_reference uses them).
# Entries 0-15 are the original batch-path family; 16-63 extend it for the
# 64-hash signature STORE (prefix-compatible: a 16-hash signature is the
# first 16 positions of the 64-hash one).
MINHASH_P = 2_147_483_647  # 2^31 - 1
MINHASH_A = (
    2029167940, 1342382292, 1469265226, 1926751965, 1241873584, 1665772334,
    1790251936, 483628758, 119253155, 644602188, 612176794, 1875941738,
    1959843383, 11307155, 1073283950, 1763574598,
    717395972, 227487307, 1317400627, 962475872, 1929947870, 490618752,
    462240092, 1284645891, 1090413249, 1431529136, 654862387, 1421535056,
    1312774056, 1680807097, 1057614984, 1817001456, 1535836188, 1646208547,
    744079161, 1331840080, 1668092632, 501261842, 1205741253, 593391867,
    536835373, 1333968182, 223266993, 1939989308, 16884942, 1507214982,
    572961412, 952484497, 2018947291, 238894631, 1519938847, 214853841,
    1735374080, 359876977, 2066700138, 924564047, 1616274143, 2039551487,
    447338296, 1521965085, 1294810733, 1003592888, 1976015157, 1381757533,
)
MINHASH_B = (
    282266798, 1711693563, 255728784, 1004882659, 1753345571, 650757180,
    733587778, 597914448, 1545052023, 547328271, 2126996168, 955794088,
    1026816910, 1083509134, 1251001413, 1188626511,
    456734524, 1316604184, 887045627, 1017798507, 1439752871, 13403355,
    494141924, 1415383313, 456018594, 59986148, 489290040, 402463332,
    881224030, 1727121847, 50436714, 1971699572, 1913778878, 708684055,
    494048335, 992615489, 640597677, 1110656760, 1543693693, 1136739902,
    69115120, 2085371932, 1258455019, 1341578368, 202912568, 1449657543,
    1583937632, 1647552084, 496155237, 255442418, 1019696100, 1835276603,
    1797244302, 2051270255, 996033225, 1788833758, 486240459, 1494685296,
    1973106612, 429694467, 1671185418, 1640861949, 814800048, 1303717211,
)


def tokens_col(text_col: str | Column = "text") -> Column:
    """The engine-wide token list: lower -> [a-z0-9]+ runs -> len 2..40
    (same contract as the tokenizer kernel / _TOK_SQL). Accepts a column
    name or an arbitrary string Column (e.g. a derived title)."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.filter(
        F.split(F.lower(c), "[^a-z0-9]+"),
        lambda t: (F.length(t) >= 2) & (F.length(t) <= 40),
    )


def shingles_col(toks: Column, k: int = DEFAULT_SHINGLE_K) -> Column:
    """k-token shingles joined by a single space; empty when len(toks) < k."""
    n = F.size(toks)
    return F.when(
        n >= k,
        F.transform(
            F.sequence(F.lit(1), n - (k - 1)),
            lambda i: F.concat_ws(" ", F.slice(toks, i, k)),
        ),
    ).otherwise(F.array().cast("array<string>"))


def exact_dedup(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Keep the smallest id per identical content; group on sha256, not the
    raw text, so the exchange carries fixed-width keys at any scale."""
    return (
        docs.select(F.col(id_col), F.sha2(F.col(text_col), 256).alias("sha"))
        .groupBy("sha")
        .agg(F.min(id_col).alias(id_col))
        .select(id_col)
    )


def _shingle_rows(
    docs: DataFrame, id_col: str, text_col: str, shingle_k: int
) -> DataFrame:
    """(id, shingle) rows, built scan-side (no shuffle). Deliberately NOT
    deduplicated: the CW minima downstream are idempotent to duplicate
    shingles, and the partial aggregation already bounds the exchange at
    n_hashes values per doc — a distinct would add a full shuffle (or an
    O(n^2-ish) array_distinct over strings) for zero semantic effect.
    Shingles are concat_ws over element_at probes rather than slice(), so
    no per-shingle array is allocated. The token array is materialized in
    its OWN projection: referenced 3+ times (size guard, sequence bound,
    lambda probes), CollapseProject keeps it a per-row attribute instead of
    re-inlining the split/filter tokenization into every reference."""
    tk = docs.select(F.col(id_col), tokens_col(text_col).alias("tk"))
    toks = F.col("tk")
    n = F.size(toks)
    sh = F.when(
        n >= shingle_k,
        F.transform(
            F.sequence(F.lit(1), n - (shingle_k - 1)),
            lambda i: F.concat_ws(
                " ", *[F.element_at(toks, i + j) for j in range(shingle_k)]
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return tk.select(F.col(id_col), F.explode(sh).alias("s"))


def minhash_signatures(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = DEFAULT_N_HASHES,
    shingle_k: int = DEFAULT_SHINGLE_K,
) -> DataFrame:
    """DataFrame[doc_id, sig: array<bigint>]; docs with no shingles get no
    row (they can't near-duplicate anything at this shingle size).

    Shingling is scan-side: tokens are materialized as ONE array column
    (its own projection, so CollapseProject won't re-inline the expensive
    split/filter into every lambda reference — the round-2 "array
    expressions are 5x slower" measurement was exactly that re-inlining),
    then transform + element_at probes build shingles WITHOUT dedup (the
    CW minima are idempotent to duplicates; see :func:`_shingle_rows`),
    and explode feeds md5 + groupBy(doc).agg(n_hashes mins) with
    scan-side partial aggregation. ZERO pre-aggregation shuffles — the
    exploded shingle relation is never exchanged, and the final exchange
    carries at most n_hashes values per doc regardless of document size.
    (The previous window+lead implementation shuffled the exploded token
    relation twice — window sort + distinct — before aggregating.)"""
    sh = _shingle_rows(docs, id_col, text_col, shingle_k)
    x = (
        F.conv(F.substring(F.md5(F.col("s")), 1, 12), 16, 10).cast("long")
        % MINHASH_P
    )
    mins = [
        F.min((F.lit(MINHASH_A[j]) * F.col("x") + F.lit(MINHASH_B[j])) % MINHASH_P)
        .alias(f"m{j}")
        for j in range(n_hashes)
    ]
    return (
        sh.select(F.col(id_col), x.alias("x"))
        .groupBy(id_col)
        .agg(*mins)
        .select(id_col, F.array(*[f"m{j}" for j in range(n_hashes)]).alias("sig"))
    )


def _band_rows(
    signatures: DataFrame, id_col: str = "doc_id", n_bands: int = DEFAULT_N_BANDS
) -> DataFrame:
    """(id, band, key) rows: the signature split into ``n_bands`` bands,
    each hashed to one md5 key — the LSH bucketing shared by batch
    candidate generation and the incremental signature store."""
    sig = signatures.select(F.col(id_col).alias("id"), "sig")
    rows_per_band = F.floor(F.size("sig") / n_bands).cast("int")
    return sig.select(
        "id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(n_bands - 1)),
                lambda b: F.struct(
                    b.alias("band"),
                    F.md5(
                        F.concat_ws(
                            "|",
                            F.transform(
                                F.slice("sig", b * rows_per_band + 1, rows_per_band),
                                lambda x: x.cast("string"),
                            ),
                        )
                    ).alias("key"),
                ),
            )
        ).alias("bk"),
    ).select("id", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))


def lsh_candidate_pairs(
    signatures: DataFrame,
    id_col: str = "doc_id",
    n_bands: int = DEFAULT_N_BANDS,
    max_bucket: int = 1000,
) -> DataFrame:
    """Band the signatures and emit distinct candidate pairs (a < b).

    ``max_bucket`` drops pathological buckets (a bucket of size m emits
    m(m-1)/2 pairs; at web scale one boilerplate bucket would dominate the
    job) — the documented skew guard.
    """
    bands = _band_rows(signatures, id_col=id_col, n_bands=n_bands)
    counts = bands.groupBy("band", "key").agg(F.count("*").alias("n"))
    bands = bands.join(
        counts.filter(F.col("n") <= max_bucket).select("band", "key"),
        ["band", "key"],
        "left_semi",
    )
    a = bands.select("band", "key", F.col("id").alias("a"))
    b = bands.select("band", "key", F.col("id").alias("b"))
    return (
        a.join(b, ["band", "key"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )


def jaccard_pairs(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = DEFAULT_SHINGLE_K,
) -> DataFrame:
    """Exact shingle-set Jaccard for candidate pairs -> (a, b, jaccard).
    Shingle sets are built ONLY for docs that appear in a candidate pair
    (semi-join first): verification cost scales with |candidates|, not
    |corpus|."""
    ids = pairs.select(F.col("a").alias("id")).union(
        pairs.select(F.col("b").alias("id"))
    ).distinct()
    needed = docs.join(
        ids, docs[id_col] == ids["id"], "left_semi"
    )
    sets_df = needed.select(
        F.col(id_col).alias("id"),
        F.array_distinct(shingles_col(tokens_col(text_col), k=shingle_k)).alias("s"),
    )
    # LEFT joins, same contract as containment_pairs: a pair whose doc id
    # is absent from ``docs`` surfaces as a 0.0-scored row instead of
    # silently vanishing from the verification output
    j = pairs.join(
        sets_df.select(F.col("id").alias("a"), F.col("s").alias("sa")), "a", "left"
    ).join(
        sets_df.select(F.col("id").alias("b"), F.col("s").alias("sb")), "b", "left"
    )
    missing = F.col("sa").isNull() | F.col("sb").isNull()
    inter = F.when(missing, F.lit(0)).otherwise(
        F.size(F.array_intersect("sa", "sb"))
    )
    union = F.when(missing, F.lit(0)).otherwise(
        F.size(F.array_union("sa", "sb"))
    )
    return j.select(
        "a",
        "b",
        F.when(union > 0, inter.cast("double") / union).otherwise(F.lit(0.0)).alias(
            "jaccard"
        ),
    )


def containment_pairs(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = DEFAULT_SHINGLE_K,
) -> DataFrame:
    """Exact shingle-set CONTAINMENT for candidate pairs ->
    (a, b, cont_ab, cont_ba): cont_ab = |S(a) ∩ S(b)| / |S(a)| — the
    asymmetric overlap that catches a short doc quoted inside a long one,
    which symmetric Jaccard dilutes below any usable threshold (the
    RefinedWeb/CCNet-style inclusion signal alongside near-dup Jaccard).
    Same verification contract as :func:`jaccard_pairs`: shingle sets are
    built ONLY for docs appearing in a candidate pair (semi-join first),
    so cost scales with |candidates|, not |corpus|. A side with an empty
    shingle set scores 0.0 in that direction."""
    ids = pairs.select(F.col("a").alias("id")).union(
        pairs.select(F.col("b").alias("id"))
    ).distinct()
    needed = docs.join(ids, docs[id_col] == ids["id"], "left_semi")
    sets_df = needed.select(
        F.col(id_col).alias("id"),
        F.array_distinct(shingles_col(tokens_col(text_col), k=shingle_k)).alias("s"),
    )
    # LEFT joins: a pair whose doc id is absent from ``docs`` (e.g.
    # candidates generated before a filter stage removed the doc) must
    # surface as a 0.0-scored row, not silently vanish from the output
    j = pairs.join(
        sets_df.select(F.col("id").alias("a"), F.col("s").alias("sa")), "a", "left"
    ).join(
        sets_df.select(F.col("id").alias("b"), F.col("s").alias("sb")), "b", "left"
    )
    missing = F.col("sa").isNull() | F.col("sb").isNull()
    inter = F.when(missing, F.lit(0.0)).otherwise(
        F.size(F.array_intersect("sa", "sb")).cast("double")
    )
    na = F.when(F.col("sa").isNull(), F.lit(0)).otherwise(F.size("sa"))
    nb = F.when(F.col("sb").isNull(), F.lit(0)).otherwise(F.size("sb"))
    return j.select(
        "a",
        "b",
        F.when(na > 0, inter / na).otherwise(F.lit(0.0)).alias("cont_ab"),
        F.when(nb > 0, inter / nb).otherwise(F.lit(0.0)).alias("cont_ba"),
    )


def containment_near_dups(
    docs: DataFrame,
    threshold: float = 0.6,
    min_shared: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = DEFAULT_SHINGLE_K,
    max_doc_freq: int = 10_000,
) -> DataFrame:
    """Containment near-dup pipeline -> (a, b, cont_ab, cont_ba) for pairs
    where EITHER direction's containment >= threshold. Candidate
    generation is a shared-shingle equi-join — NOT MinHash-LSH, which is
    tuned for symmetric Jaccard and reliably MISSES a small doc contained
    in a much larger one (the pair's Jaccard is tiny even when containment
    is 1.0).

    Scale shape: shingles travel as md5 hashes (fixed-width exchange, the
    cross_doc_shingle_frac pattern); per-doc distinct BEFORE the self-join
    so multiplicity can't blow up buckets; shingles in more than
    ``max_doc_freq`` docs are dropped from candidate generation (the
    boilerplate/skew cap — a shingle shared by everything pairs
    everything); candidates need ``min_shared`` distinct shared shingles;
    exact verification then touches only candidate docs."""
    sh = (
        _shingle_rows(docs, id_col=id_col, text_col=text_col, shingle_k=shingle_k)
        .select(F.col(id_col).alias("id"), F.md5("s").alias("h"))
        .distinct()
    )
    hot = (
        sh.groupBy("h")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") <= max_doc_freq)
        .select("h")
    )
    sh = sh.join(hot, "h", "left_semi")
    a = sh.select("h", F.col("id").alias("a"))
    b = sh.select("h", F.col("id").alias("b"))
    cand = (
        a.join(b, "h")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
        .select("a", "b")
    )
    # Materialize the (small) candidate set once: verification references
    # it from three branches (both semi-join sides + the pair join), which
    # would otherwise re-run the shared-shingle self-join per branch —
    # the same persist-and-count pattern as minhash_near_dups.
    cand = cand.persist()
    cand.count()
    out = containment_pairs(
        docs, cand, id_col=id_col, text_col=text_col, shingle_k=shingle_k
    )
    return out.filter(
        F.greatest("cont_ab", "cont_ba") >= threshold
    )


def minhash_near_dups(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    n_hashes: int = DEFAULT_N_HASHES,
    n_bands: int = DEFAULT_N_BANDS,
    shingle_k: int = DEFAULT_SHINGLE_K,
) -> DataFrame:
    """Full near-dup pipeline: signatures -> LSH candidates -> exact-Jaccard
    verification at ``threshold`` -> (a, b, jaccard)."""
    sigs = minhash_signatures(
        docs, id_col=id_col, text_col=text_col, n_hashes=n_hashes, shingle_k=shingle_k
    )
    # Materialize the (small) candidate set once: the verification stage
    # references it from three branches (both semi-join sides + the pair
    # join), which would otherwise re-run the whole signature DAG each time.
    cands = lsh_candidate_pairs(sigs, n_bands=n_bands).persist()
    cands.count()
    out = jaccard_pairs(
        docs, cands, id_col=id_col, text_col=text_col, shingle_k=shingle_k
    ).filter(F.col("jaccard") >= threshold)
    return out


def simhash_fingerprints(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 64,
) -> DataFrame:
    """64-bit SimHash over token frequencies (bit b of md5(term)'s first 8
    big-endian bytes votes +tf/-tf; fingerprint = sign vector, stored as
    signed int64 two's complement).

    Vectorized per Arrow batch: each DISTINCT term is md5-hashed once, the
    digests unpack into a (vocab x 64) ±1 sign matrix with one shift-and
    broadcast, and all documents' votes accumulate via a single NumPy
    scatter-add over the (doc, term, tf) triples — no per-term Python inner
    loop. Oracle-checked: the same bit votes are reproducible in ANSI SQL
    from md5 hex halves (see the dedup_simhash_pairs oracle)."""
    import hashlib
    from collections import Counter
    from typing import Iterator

    import numpy as np
    import pandas as pd

    from google_spark.functions.tokenizer import tokenize_simple

    if bits != 64:
        raise ValueError("simhash_fingerprints supports bits=64 only")

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        bit_idx = np.arange(64, dtype=np.uint64)
        for pdf in batches:
            ids: list[int] = []
            doc_idx: list[int] = []
            term_idx: list[int] = []
            tfs: list[int] = []
            vocab: dict[str, int] = {}
            for doc_id, text in zip(pdf[id_col].values, pdf[text_col].values):
                toks = tokenize_simple(text)
                if not toks:
                    continue
                di = len(ids)
                ids.append(doc_id)
                for term, tf in Counter(toks).items():
                    term_idx.append(vocab.setdefault(term, len(vocab)))
                    doc_idx.append(di)
                    tfs.append(tf)
            if not ids:
                yield pd.DataFrame(
                    {
                        id_col: pd.Series([], dtype="int64"),
                        "simhash": pd.Series([], dtype="int64"),
                    }
                )
                continue
            digests = b"".join(
                hashlib.md5(t.encode()).digest()[:8] for t in vocab
            )
            h = np.frombuffer(digests, dtype=">u8").astype(np.uint64)  # (V,)
            signs = (
                ((h[:, None] >> bit_idx[None, :]) & np.uint64(1)).astype(np.int64)
                * 2
                - 1
            )  # (V, 64) in {-1, +1}
            votes = np.zeros((len(ids), 64), dtype=np.int64)
            ti = np.asarray(term_idx)
            di = np.asarray(doc_idx)
            tf_a = np.asarray(tfs, dtype=np.int64)
            # chunk the scatter-add so the (chunk, 64) contrib transient
            # stays bounded (~64 MB) no matter how many (doc, term) pairs
            # one Arrow batch holds — long documents must not OOM a task
            chunk = 131_072
            for lo in range(0, len(ti), chunk):
                hi = lo + chunk
                np.add.at(
                    votes, di[lo:hi], signs[ti[lo:hi]] * tf_a[lo:hi, None]
                )
            fp = (
                ((votes > 0).astype(np.uint64) << bit_idx[None, :])
                .sum(axis=1, dtype=np.uint64)
            )
            yield pd.DataFrame(
                {
                    id_col: pd.Series(ids, dtype="int64"),
                    "simhash": pd.Series(fp.view(np.int64), dtype="int64"),
                }
            )

    return docs.select(id_col, text_col).mapInPandas(
        gen, schema=f"{id_col} long, simhash long"
    )


def _simhash_chunk_plan(max_hamming: int) -> tuple[int, int, list[int], list[int]]:
    """Choose (per-chunk radius r, n_chunks m, chunk widths, bit offsets) for
    a 64-bit multi-probe block join.

    Pigeonhole: a pair at total Hamming distance <= k, split over m chunks,
    has some chunk at distance <= floor(k/m); with m = ceil((k+1)/(r+1))
    that floor is <= r, so probing every key within distance r of one side's
    chunk key finds every qualifying pair via an exact equi-join. r is the
    smallest radius keeping m <= 8 (chunk keys >= 8 bits wide), so the join
    key space never collapses however large k is — the fix for the
    degenerate width-4 keys the old 1-chunk-per-allowed-error split produced
    at k=12. All 64 bits are covered: divmod spreads the remainder so no
    high bits are wasted."""
    if not 0 <= max_hamming <= 31:
        raise ValueError("max_hamming must be in [0, 31]")
    for r in range(4):
        m = -(-(max_hamming + 1) // (r + 1))  # ceil
        if m <= 8:
            break
    # m >= 2 keeps every chunk <= 32 bits: a single 64-bit chunk's key mask
    # (1<<64)-1 does not fit Spark's LongType (max_hamming=0 hits this);
    # completeness is unaffected — at distance 0 ALL chunks match.
    m = max(2, m)
    base, rem = divmod(64, m)
    widths = [base + (1 if i < rem else 0) for i in range(m)]
    offsets = [sum(widths[:i]) for i in range(m)]
    return r, m, widths, offsets


def _probe_masks(width: int, r: int) -> list[int]:
    """All XOR masks of Hamming weight <= r over `width` bits."""
    masks = [0]
    if r >= 1:
        masks += [1 << i for i in range(width)]
    if r >= 2:
        masks += [(1 << i) | (1 << j) for i in range(width) for j in range(i)]
    if r >= 3:
        masks += [
            (1 << i) | (1 << j) | (1 << l)
            for i in range(width)
            for j in range(i)
            for l in range(j)
        ]
    return masks


def simhash_near_dups(
    fingerprints: DataFrame, id_col: str = "doc_id", max_hamming: int = 3
) -> DataFrame:
    """Near-dup pairs by Hamming distance <= max_hamming via multi-probe
    block join: 64 bits split into m >= 8-bit-wide chunks; one side also
    emits every key within per-chunk radius r of its chunk (see
    :func:`_simhash_chunk_plan` for the pigeonhole argument), so candidate
    generation is always an exact equi-join on >= 8-bit (chunk, key) pairs
    — never a cross join, and the key space no longer collapses for large
    max_hamming (the old split gave 4-bit/16-value keys at k=12 and left
    bits 52-63 out of every key). The probe fan-out is bounded:
    m * (1 + width + width^2/2 + ...) rows per doc on one side, a plan-time
    constant."""
    r, m, widths, offsets = _simhash_chunk_plan(max_hamming)
    fp = fingerprints.select(F.col(id_col).alias("id"), "simhash")
    a_structs = []
    b_structs = []
    for c, (w, off) in enumerate(zip(widths, offsets)):
        key = F.shiftrightunsigned(F.col("simhash"), off).bitwiseAND(
            F.lit((1 << w) - 1)
        )
        b_structs.append(F.struct(F.lit(c).alias("chunk"), key.alias("key")))
        for mk in _probe_masks(w, r):
            a_structs.append(
                F.struct(
                    F.lit(c).alias("chunk"),
                    key.bitwiseXOR(F.lit(mk)).alias("key"),
                )
            )
    a = fp.select(
        F.col("id").alias("a"),
        F.col("simhash").alias("fa"),
        F.explode(F.array(*a_structs)).alias("ck"),
    ).select("a", "fa", "ck.chunk", "ck.key")
    b = fp.select(
        F.col("id").alias("b"),
        F.col("simhash").alias("fb"),
        F.explode(F.array(*b_structs)).alias("ck"),
    ).select("b", "fb", "ck.chunk", "ck.key")
    cands = (
        a.join(b, ["chunk", "key"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b", "fa", "fb")
        .distinct()
    )
    hamming = F.bit_count(F.col("fa").bitwiseXOR(F.col("fb")))
    return cands.select("a", "b", hamming.alias("hamming")).filter(
        F.col("hamming") <= max_hamming
    )


def cross_doc_shingle_frac(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 5,
) -> DataFrame:
    """(doc_id, n_shingles, shared_shingle_frac) — the fraction of each
    document's DISTINCT k-shingles that also occur in at least one OTHER
    document: the scan-scale signal behind exact-substring deduplication
    (Lee et al. 2021, "Deduplicating Training Data Makes Language Models
    Better" — their suffix-array pass removes exactly the spans this
    fraction counts). Boilerplate-heavy docs (licenses, headers,
    templates) score near 1.0; original prose scores near 0.0. Internal
    repetition is deliberately excluded (that's repetition_scores).

    Scale shape: shingles are built scan-side (:func:`_shingle_rows`,
    zero pre-shuffle), hashed to fixed-width md5 keys, and distinct-ed per
    (doc, shingle) so no exchange ever carries a shingle string twice for
    one doc. The document-frequency aggregate and the membership join are
    both keyed by the hash — a viral boilerplate shingle is one hot key
    among millions (AQE skew-join splits it) — and the final aggregate is
    keyed by doc. Four linear exchanges, nothing driver-side.
    """
    sh = (
        _shingle_rows(docs, id_col, text_col, shingle_k)
        .select(F.col(id_col), F.md5("s").alias("h"))
        .distinct()
    )
    dfc = sh.groupBy("h").agg(F.count("*").alias("nd"))
    agg = (
        sh.join(dfc, "h")
        .groupBy(id_col)
        .agg(
            F.count("*").cast("long").alias("n_shingles"),
            F.round(
                F.sum(F.when(F.col("nd") >= 2, 1).otherwise(0))
                / F.count("*"),
                4,
            ).alias("shared_shingle_frac"),
        )
    )
    return (
        docs.select(id_col)
        .join(agg, on=id_col, how="left")
        .select(
            id_col,
            F.coalesce("n_shingles", F.lit(0).cast("long")).alias("n_shingles"),
            F.coalesce("shared_shingle_frac", F.lit(0.0)).alias(
                "shared_shingle_frac"
            ),
        )
    )


# Signature-store defaults. 64 hashes (vs the batch path's 16) bring the
# MinHash estimate's quantization step to 1/64 and its std near j=0.85 to
# ~0.045; 16 bands x 4 rows keep per-band collision probability j^4 (same
# row width as the batch LSH), so candidate recall at j=0.85 is
# 1-(1-0.85^4)^16 ~= 0.999999. The bottom-k shingle sketch is the
# VERIFICATION table: for a pair whose union of distinct shingles fits in
# k (|A u B| <= k) the sketch estimate IS exact Jaccard; above that it is
# the standard bottom-k estimator with std ~= sqrt(j(1-j)/k) (~0.03 at
# k=128 near j=0.85).
STORE_N_HASHES = 64
STORE_N_BANDS = 16
STORE_SKETCH_K = 128


def bottomk_sketches(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = STORE_SKETCH_K,
    shingle_k: int = DEFAULT_SHINGLE_K,
) -> DataFrame:
    """DataFrame[doc_id, sketch: array<bigint>] — the ``k`` smallest
    distinct shingle base-hash values per doc (ascending). Computed
    entirely SCAN-SIDE (tokens -> shingles -> md5 base hashes -> sort ->
    slice are all per-row JVM expressions), so unlike a
    collect_set-per-doc aggregation this shuffles nothing: the exchange
    downstream of it (if any) carries at most k int64s per doc. Docs with
    no shingles get an empty sketch (they can't near-duplicate anything at
    this shingle size and never band-collide either)."""
    tk = docs.select(F.col(id_col).alias("doc_id"), tokens_col(text_col).alias("tk"))
    sh = shingles_col(F.col("tk"), k=shingle_k)
    xs = F.transform(
        F.array_distinct(sh),
        lambda s: F.conv(F.substring(F.md5(s), 1, 12), 16, 10).cast("long")
        % MINHASH_P,
    )
    return tk.select(
        "doc_id",
        F.slice(F.array_sort(F.array_distinct(xs)), 1, k).alias("sketch"),
    )


def sketch_jaccard_col(a, b, k: int = STORE_SKETCH_K):
    """Bottom-k Jaccard estimate between two ascending sketch arrays:
    ``|S_k(A u B) ∩ A ∩ B| / |S_k(A u B)|`` — exact when ``|A u B| <= k``
    (both sketches then hold their doc's FULL distinct-shingle-hash set)."""
    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    m = F.slice(F.array_sort(F.array_union(a, b)), 1, k)
    inter = F.array_intersect(F.array_intersect(m, a), b)
    return F.when(
        F.size(m) > 0, F.size(inter).cast("double") / F.size(m)
    ).otherwise(F.lit(0.0))


def _store_meta_path(path: str) -> str:
    import os

    return os.path.join(path, "_store_meta.json")


def _read_store_meta(path: str) -> dict | None:
    import json
    import os

    p = _store_meta_path(path)
    if not os.path.exists(p):
        return None
    with open(p) as f:
        return json.load(f)


def _recover_store_swap(path: str) -> None:
    """Roll back a compaction swap that crashed mid-window: for each store
    table, if ``{name}.parquet`` is missing but ``{name}.parquet.old``
    survives, rename the old layout back in. Compaction is idempotent
    (distinct of distinct), so recovering the pre-compaction table is
    always safe; without this, a crash between the two renames in
    :func:`compact_signature_store` makes the store look absent and the
    next streaming epoch would silently overwrite the whole history."""
    import os

    for name in ("sigs", "bands", "sketches"):
        src = os.path.join(path, f"{name}.parquet")
        old = src + ".old"
        if not os.path.isdir(src) and os.path.isdir(old):
            os.replace(old, src)


def _store_begin_path(path: str) -> str:
    import os

    return os.path.join(path, "_store_begin.json")


def signature_store_committed(path: str) -> bool:
    """True when ``path`` holds a COMMITTED signature store: the meta file
    is the commit marker (written last), so a first write that crashed
    between the data tables and the meta is reported absent and the next
    write self-heals by redoing the overwrite. A legacy pre-meta store
    (data present, no meta, no begin marker) still counts as existing —
    appends to it keep raising the explicit rebuild error rather than
    silently clobbering unknown-width history."""
    import os

    if _read_store_meta(path) is not None:
        return True
    return os.path.isdir(os.path.join(path, "sigs.parquet")) and not os.path.exists(
        _store_begin_path(path)
    )


def write_signature_store(
    docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = STORE_N_HASHES,
    n_bands: int = STORE_N_BANDS,
    sketch_k: int = STORE_SKETCH_K,
    mode: str = "overwrite",
) -> None:
    """Persist the corpus's near-dup state for INCREMENTAL dedup:
    ``{path}/sigs.parquet`` (doc_id, sig), ``{path}/bands.parquet``
    (doc_id, band, key) partitioned by band, and ``{path}/sketches.parquet``
    (doc_id, bottom-``sketch_k`` shingle sketch — the verification table).
    A growing corpus never re-reads or re-shingles old text — each new
    batch probes these fixed-width tables (``incremental_near_dups``) and
    appends its own rows (``mode="append"``). The store's widths are
    pinned in ``_store_meta.json`` at creation; appends with mismatched
    widths raise (mixed-width signatures would silently corrupt every
    downstream estimate)."""
    import contextlib
    import json
    import os

    _recover_store_swap(path)
    meta = _read_store_meta(path)
    want = {"n_hashes": n_hashes, "n_bands": n_bands, "sketch_k": sketch_k}
    if mode == "append" and meta is None and os.path.exists(
        _store_begin_path(path)
    ):
        # a FIRST write (or rebuild) crashed between the data tables and
        # the meta commit marker: nothing was ever committed, so the
        # retried epoch self-heals by redoing the overwrite wholesale
        # (without this, every replay would brick on the legacy error
        # below and the stream could never make progress again)
        mode = "overwrite"
    if mode == "append" and meta is not None and meta != want:
        raise ValueError(
            f"signature store at {path} was created with {meta}; "
            f"appending with {want} would mix incompatible widths"
        )
    if mode == "append" and meta is None and os.path.isdir(f"{path}/sigs.parquet"):
        # a pre-meta (legacy-width) store: its widths are unknown, so an
        # append would mix signature widths and create a sketches table
        # covering only the new rows — every pre-upgrade doc would then
        # silently stop matching in incremental_near_dups' sketch join
        raise ValueError(
            f"signature store at {path} predates _store_meta.json; "
            "rebuild it (mode='overwrite') before appending — appending "
            "unknown-width signatures would silently corrupt every "
            "downstream estimate"
        )
    if mode == "overwrite":
        # begin marker first, then drop the old commit marker: a crash
        # anywhere before the final meta write leaves (begin, no meta) =
        # visibly uncommitted, and signature_store_committed() reports the
        # store absent so the retry redoes the overwrite
        os.makedirs(path, exist_ok=True)
        tmp = _store_begin_path(path) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(want, f)
        os.replace(tmp, _store_begin_path(path))
        with contextlib.suppress(FileNotFoundError):
            os.remove(_store_meta_path(path))
    sigs = minhash_signatures(
        docs, id_col=id_col, text_col=text_col, n_hashes=n_hashes
    )
    sigs.write.mode(mode).parquet(f"{path}/sigs.parquet")
    # bands derive from THIS batch's sigs only; append mode just adds rows
    _band_rows(sigs, id_col="doc_id", n_bands=n_bands).withColumnRenamed(
        "id", "doc_id"
    ).write.mode(mode).partitionBy("band").parquet(f"{path}/bands.parquet")
    # a doc has a signature iff it has >= 1 shingle iff its sketch is
    # non-empty: the size filter keeps the tables doc-aligned without a join
    bottomk_sketches(docs, id_col=id_col, text_col=text_col, k=sketch_k).filter(
        F.size("sketch") > 0
    ).write.mode(mode).parquet(f"{path}/sketches.parquet")

    tmp = _store_meta_path(path) + ".tmp"
    with open(tmp, "w") as f:
        json.dump(want, f)
    os.replace(tmp, _store_meta_path(path))
    with contextlib.suppress(FileNotFoundError):
        os.remove(_store_begin_path(path))



def incremental_near_dups(
    new_docs: DataFrame,
    store_path: str,
    threshold: float = 0.85,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int | None = None,
    n_bands: int | None = None,
    max_bucket: int = 1000,
) -> DataFrame:
    """DataFrame[new_id, stored_id, est_jaccard] — near-dups of an
    incoming batch AGAINST the persisted signature store, without
    touching any stored text. Candidates come from a (band, key)
    equi-join of the batch's bands against the store (Exchange carries
    fixed-width keys; ``max_bucket`` caps viral store buckets exactly as
    in :func:`lsh_candidate_pairs`).

    Verification semantics: when the store carries the bottom-k shingle
    sketch table (every store written by the current
    :func:`write_signature_store` does), ``est_jaccard`` is the bottom-k
    estimate — EXACT Jaccard whenever the pair's union of distinct
    shingles fits in ``sketch_k`` (typical documents at the default
    k=128), and a sqrt(j(1-j)/k)-std estimate above that — so
    ``>= threshold`` means what it says instead of the old 16-hash
    estimate's k/16 quantization (where 0.85 silently meant 14/16 =
    0.875). Legacy sketch-less stores fall back to the signature-agreement
    estimate with its documented quantization (step 1/n_hashes). The
    batch pipeline (minhash_near_dups) remains the exact-Jaccard path."""
    import os

    spark = new_docs.sparkSession
    _recover_store_swap(store_path)
    meta = _read_store_meta(store_path) or {}
    n_hashes = n_hashes or int(meta.get("n_hashes", DEFAULT_N_HASHES))
    n_bands = n_bands or int(meta.get("n_bands", DEFAULT_N_BANDS))
    sketch_k = int(meta.get("sketch_k", STORE_SKETCH_K))
    new_sigs = minhash_signatures(
        new_docs, id_col=id_col, text_col=text_col, n_hashes=n_hashes
    ).select(F.col("doc_id").alias("new_id"), F.col("sig").alias("nsig"))
    nb = _band_rows(
        new_sigs.select(F.col("new_id").alias("doc_id"), F.col("nsig").alias("sig")),
        n_bands=n_bands,
    ).select(F.col("id").alias("new_id"), "band", "key")
    stored_bands = spark.read.parquet(f"{store_path}/bands.parquet")
    counts = stored_bands.groupBy("band", "key").agg(F.count("*").alias("n"))
    stored_bands = stored_bands.join(
        counts.filter(F.col("n") <= max_bucket).select("band", "key"),
        ["band", "key"],
        "left_semi",
    )
    cands = (
        nb.join(stored_bands, ["band", "key"])
        .select("new_id", F.col("doc_id").alias("stored_id"))
        .distinct()
    )
    use_sketches = os.path.isdir(f"{store_path}/sketches.parquet")
    if use_sketches:
        new_side = bottomk_sketches(
            new_docs, id_col=id_col, text_col=text_col, k=sketch_k
        ).select(F.col("doc_id").alias("new_id"), F.col("sketch").alias("nsk"))
        stored_side = (
            spark.read.parquet(f"{store_path}/sketches.parquet")
            .join(
                cands.select(F.col("stored_id").alias("doc_id")).distinct(),
                "doc_id",
                "left_semi",
            )
            .select(F.col("doc_id").alias("stored_id"), F.col("sketch").alias("osk"))
            # an at-least-once appender (streaming restarts) may have
            # written a doc's rows twice; identical rows, but without the
            # distinct the verify join would emit duplicate output pairs
            .distinct()
        )
        est = sketch_jaccard_col("nsk", "osk", k=sketch_k)
    else:
        new_side = new_sigs
        stored_side = (
            spark.read.parquet(f"{store_path}/sigs.parquet")
            .join(
                cands.select(F.col("stored_id").alias("doc_id")).distinct(),
                "doc_id",
                "left_semi",
            )
            .select(F.col("doc_id").alias("stored_id"), F.col("sig").alias("osig"))
            .distinct()
        )
        agree = F.aggregate(
            F.zip_with("nsig", "osig", lambda a, b: (a == b).cast("int")),
            F.lit(0),
            lambda acc, x: acc + x,
        )
        est = agree / F.lit(float(n_hashes))
    return (
        cands.join(new_side, "new_id")
        .join(stored_side, "stored_id")
        .select("new_id", "stored_id", est.alias("est_jaccard"))
        .filter(F.col("est_jaccard") >= threshold)
        .select("new_id", "stored_id", F.round("est_jaccard", 4).alias("est_jaccard"))
    )


def compact_signature_store(spark: SparkSession, path: str) -> dict:
    """Rewrite the signature store dropping duplicate rows — the
    ``rewrite_data_files`` analog for the store. An at-least-once appender
    (streaming restarts) re-writes identical (doc_id, ...) rows; they are
    semantically harmless (every probe distincts) but the store grows
    without bound and every epoch's bucket-count aggregate re-scans the
    duplicates. Compaction rewrites each table to its distinct rows (one
    shuffle per table over fixed-width rows), preserving the bands
    table's ``band`` partitioning, via write-to-tmp + rename-aside +
    rename-in. POSIX has no atomic directory exchange, so there is a
    crash window between the two renames; every store entry point calls
    :func:`_recover_store_swap` first, which rolls a stranded ``.old``
    back in — so a crash mid-swap self-heals on the next touch instead
    of making the store look absent (which would let a streaming epoch
    overwrite the whole history). Run compaction from the single
    maintainer, not concurrently with probes. Returns
    {"docs": n, "band_rows": n, "sketch_rows": n}."""
    import os
    import shutil

    _recover_store_swap(path)
    stats = {"docs": 0, "band_rows": 0, "sketch_rows": 0}
    for name, part_by, out_key in (
        ("sigs", None, "docs"),
        ("bands", "band", "band_rows"),
        ("sketches", None, "sketch_rows"),
    ):
        src = os.path.join(path, f"{name}.parquet")
        if not os.path.isdir(src):
            continue
        tmp = src + ".compact_tmp"
        if os.path.isdir(tmp):
            shutil.rmtree(tmp)
        w = spark.read.parquet(src).distinct().write.mode("overwrite")
        if part_by:
            w = w.partitionBy(part_by)
        w.parquet(tmp)
        stats[out_key] = spark.read.parquet(tmp).count()
        old = src + ".old"
        if os.path.isdir(old):
            shutil.rmtree(old)
        os.replace(src, old)
        os.replace(tmp, src)
        shutil.rmtree(old)
    return stats


def contamination_flags(
    docs: DataFrame,
    eval_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    eval_id_col: str = "doc_id",
    eval_text_col: str = "text",
    shingle_k: int = DEFAULT_SHINGLE_K,
) -> DataFrame:
    """Benchmark-contamination check: flag every training doc sharing at
    least one ``shingle_k``-token shingle with the evaluation set
    (the n-gram-overlap decontamination rule LLM pipelines apply before
    training). Returns (doc_id, n_shared_shingles, contaminated) for EVERY
    training doc, where n_shared_shingles counts the doc's DISTINCT
    shingles that appear anywhere in the eval set.

    Scale shape: the eval set is benchmark-sized (thousands of docs), so
    its distinct shingle-hash set is broadcast and the check is a
    broadcast semi-join against the scan-side training shingles — the
    100 TB side is never shuffled, and the md5 keys keep the broadcast
    fixed-width regardless of shingle text."""
    ev = (
        _shingle_rows(eval_docs, eval_id_col, eval_text_col, shingle_k)
        .select(F.md5("s").alias("h"))
        .distinct()
    )
    tr = _shingle_rows(docs, id_col, text_col, shingle_k).select(
        F.col(id_col), F.md5("s").alias("h")
    ).distinct()
    shared = (
        tr.join(F.broadcast(ev), "h", "left_semi")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_shared_shingles"))
    )
    return (
        docs.select(id_col)
        .join(shared, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_shared_shingles", F.lit(0)).cast("long").alias(
                "n_shared_shingles"
            ),
            (F.coalesce("n_shared_shingles", F.lit(0)) > 0).alias("contaminated"),
        )
    )


def global_line_dedup(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_count: int = 2,
    min_chars: int = 1,
) -> DataFrame:
    """C4-style corpus-level line deduplication: any (trimmed) line that
    occurs ``min_count`` or more times across the whole corpus is kept only
    at its globally-first occurrence (smallest ``(id, position)``); every
    other occurrence — in other documents or later in the same document —
    is dropped. Lines shorter than ``min_chars`` after trimming (blank
    lines by default) are never dedup keys and are always kept, so document
    structure survives. Returns ``(id, clean_text, n_kept, n_dropped)``
    with ``clean_text`` the surviving lines rejoined in original order.

    This is the corpus-wide complement of the per-document
    ``repetition_scores`` dup-line signal (text_analysis.py) and the
    cross-document ``cross_doc_shingle_frac`` fraction: those *measure*
    duplication, this one *removes* it, line-granular, the way the C4
    pipeline strips boilerplate (cookie banners, license headers) that
    exact whole-document dedup never catches.

    Scale shape (100 TB): lines explode scan-side; the canonical-occurrence
    relation is ONE hash aggregate on md5(trim(line)) with map-side partial
    min/count (skew-safe — a billion-occurrence boilerplate line still
    partially aggregates per task before the exchange); the keep-decision
    is an equi-join on the fixed-width key (AQE skew split applies); the
    rebuild is one groupBy(id) whose state is bounded by document size.
    No windows over hot keys, no raw-text shuffle keys.
    """
    lines = docs.select(
        F.col(id_col).alias("_gld_id"),
        F.posexplode(F.split(F.col(text_col), "\n")).alias(
            "_gld_pos", "_gld_line"
        ),
    )
    eligible = F.length(F.trim(F.col("_gld_line"))) >= F.lit(min_chars)
    keyed = lines.withColumn(
        "_gld_key", F.when(eligible, F.md5(F.trim(F.col("_gld_line"))))
    )
    canon = (
        keyed.where(F.col("_gld_key").isNotNull())
        .groupBy("_gld_key")
        .agg(
            F.min(F.struct("_gld_id", "_gld_pos")).alias("_gld_first"),
            F.count(F.lit(1)).alias("_gld_n"),
        )
    )
    keep = (
        F.col("_gld_key").isNull()
        | (F.col("_gld_n") < F.lit(min_count))
        | (
            (F.col("_gld_first._gld_id") == F.col("_gld_id"))
            & (F.col("_gld_first._gld_pos") == F.col("_gld_pos"))
        )
    )
    kept = keyed.join(canon, "_gld_key", "left").withColumn("_gld_keep", keep)
    return (
        kept.groupBy("_gld_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("_gld_keep"),
                                F.struct("_gld_pos", "_gld_line"),
                            )
                        )
                    ),
                    lambda x: x["_gld_line"],
                ),
                "\n",
            ).alias("clean_text"),
            F.sum(F.when(F.col("_gld_keep"), 1).otherwise(0))
            .cast("long")
            .alias("n_kept"),
            F.sum(F.when(F.col("_gld_keep"), 0).otherwise(1))
            .cast("long")
            .alias("n_dropped"),
        )
        .select(F.col("_gld_id").alias(id_col), "clean_text", "n_kept", "n_dropped")
    )


def duplicate_spans(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 20,
    min_count: int = 2,
) -> DataFrame:
    """Every occurrence of a duplicated token window (ExactSubstr-style
    span detection; Lee et al. 2021, "Deduplicating Training Data Makes
    Language Models Better" — the token-window approximation of their
    suffix-array substring match, at granularity ``window`` tokens).

    A span is a ``window``-token run of the engine token stream
    (:func:`tokens_col`); its key is md5 of the space-joined tokens —
    i.e. exactly a k=``window`` shingle, sharing the MinHash family's
    shingle contract. Returns one row per occurrence of any key seen
    ``min_count``+ times corpus-wide:
    ``(id, pos, key, n, is_canonical)`` with ``pos`` the 0-based token
    offset of the window start, ``n`` the key's corpus-wide occurrence
    count, and ``is_canonical`` true for the globally-first occurrence
    (smallest ``(id, pos)``) — the one :func:`remove_duplicate_spans`
    keeps.

    Scale shape (100 TB): windows are built scan-side with JVM HOFs (one
    md5 per window row after posexplode — the minhash signature shape);
    the canonical-occurrence relation is ONE hash aggregate on the
    fixed-width md5 key with map-side partial min/count (a
    billion-occurrence boilerplate span still partially aggregates per
    task before the exchange); occurrences rejoin on the same fixed-width
    key (AQE skew split applies). No raw text ever shuffles.
    """
    wins = F.transform(
        shingles_col(tokens_col(text_col), k=window), F.md5
    )
    occ = docs.select(
        F.col(id_col).alias("_ds_id"),
        F.posexplode(wins).alias("_ds_pos", "_ds_key"),
    ).select(
        "_ds_id",
        F.col("_ds_pos").cast("long").alias("_ds_pos"),
        "_ds_key",
    )
    canon = (
        occ.groupBy("_ds_key")
        .agg(
            F.min(F.struct("_ds_id", "_ds_pos")).alias("_ds_first"),
            F.count(F.lit(1)).alias("n"),
        )
        .filter(F.col("n") >= int(min_count))
    )
    return occ.join(canon, "_ds_key").select(
        F.col("_ds_id").alias(id_col),
        F.col("_ds_pos").alias("pos"),
        F.col("_ds_key").alias("key"),
        "n",
        (
            (F.col("_ds_first._ds_id") == F.col("_ds_id"))
            & (F.col("_ds_first._ds_pos") == F.col("_ds_pos"))
        ).alias("is_canonical"),
    )


def remove_duplicate_spans(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 20,
    min_count: int = 2,
) -> DataFrame:
    """ExactSubstr-style span REMOVAL (Lee et al. 2021): drop every token
    covered by a non-canonical occurrence of a duplicated window
    (:func:`duplicate_spans`), keeping the globally-first occurrence
    intact, and rebuild each document from the surviving tokens. Returns
    ``(id, clean_text, n_kept, n_removed)`` — one row per input document
    (``n_removed`` 0 and ``clean_text`` the full token stream when
    nothing duplicated). ``clean_text`` is the surviving engine TOKEN
    stream space-rejoined (lowercased, punctuation collapsed) — the same
    granularity Lee et al. operate at; this is the training-data path,
    not a display path.

    This is the span-granular complement of :func:`global_line_dedup`
    (line granularity) and :func:`minhash_near_dups` (document
    granularity): it removes repeated boilerplate RUNS — license
    headers, generated preambles, copy-pasted functions — that neither
    line dedup (spans cross line breaks) nor document dedup (documents
    differ elsewhere) catches.

    Scale shape: detection as in :func:`duplicate_spans`; the drop
    positions come back as ONE array per affected document (groupBy(id)
    state bounded by document size), joined to the corpus on the id key;
    the rebuild is a scan-side HOF mask. The mask costs
    O(tokens x drop-spans) per document — bounded by document length
    squared/window in the pathological all-duplicate case, and by a few
    probes per token in real corpora where drops are sparse.
    """
    spans = duplicate_spans(
        docs, id_col=id_col, text_col=text_col,
        window=window, min_count=min_count,
    )
    drops = (
        spans.filter(~F.col("is_canonical"))
        .groupBy(F.col(id_col).alias("_ds_id"))
        .agg(F.array_sort(F.collect_list("pos")).alias("_ds_drops"))
    )
    base = docs.select(
        F.col(id_col).alias("_ds_id"),
        # null text -> empty token list, NOT a null array: F.size(NULL)
        # is NULL under ANSI (-1 legacy), which would poison n_removed
        # and make downstream null-unsafe predicates (the prepare_corpus
        # span gate) silently drop the doc — same guard convention as
        # build_index / text_analysis
        F.coalesce(
            tokens_col(text_col), F.array().cast("array<string>")
        ).alias("_ds_toks"),
    )
    joined = base.join(drops, "_ds_id", "left").withColumn(
        "_ds_drops",
        F.coalesce(F.col("_ds_drops"), F.array().cast("array<long>")),
    )
    n = F.size("_ds_toks")
    # sequence(0, -1) would COUNT DOWN (Spark infers step -1), so the
    # empty-token case needs an explicit empty array
    idxs = F.when(n > 0, F.sequence(F.lit(0), n - 1)).otherwise(
        F.array().cast("array<int>")
    )
    w = F.lit(int(window))
    kept = F.filter(
        idxs,
        lambda i: ~F.exists(
            F.col("_ds_drops"), lambda p: (p <= i) & (i < p + w)
        ),
    )
    return joined.select(
        F.col("_ds_id").alias(id_col),
        F.array_join(
            # F.get is 0-based and null-safe (element_at raises in Spark 4)
            F.transform(kept, lambda i: F.get(F.col("_ds_toks"), i)),
            " ",
        ).alias("clean_text"),
        F.size(kept).cast("long").alias("n_kept"),
        (n - F.size(kept)).cast("long").alias("n_removed"),
    )


# ---------------------------------------------------------------------------
# Repo-grain fork collapse. A code corpus at repository scale is dominated
# by forks: thousands of repos that are byte-identical or near-identical
# file SETS of one upstream (The Stack v1/v2 collapses them before any
# file-grain dedup for exactly this reason — public: Kocetkov et al. 2022
# §3). File-grain dedup alone cannot express "these two REPOS are the
# same project"; the repo-grain signal is Jaccard over the repos' file
# content-hash sets.
# ---------------------------------------------------------------------------


def _repo_hash_sets(
    files: DataFrame, repo_col: str, text_col: str, max_repo_freq: int
):
    """(capped (repo, h) frame, per-repo capped set sizes) — the shared
    feature tables of repo_near_dups and collapse_forks, computed from
    ONE scan so the pair relation and the canonical scores cannot
    diverge (and the file table is not sha256-hashed twice)."""
    fh = (
        files.select(
            F.col(repo_col).alias("repo"),
            F.sha2(F.coalesce(F.col(text_col), F.lit("")), 256).alias("h"),
        )
        .distinct()
    )
    df = fh.groupBy("h").agg(F.count(F.lit(1)).alias("nrepos"))
    fh = fh.join(
        df.filter(F.col("nrepos") <= max_repo_freq).select("h"), "h", "left_semi"
    )
    sizes = fh.groupBy("repo").agg(F.count(F.lit(1)).alias("nf"))
    return fh, sizes


def repo_near_dups(
    files: DataFrame,
    threshold: float = 0.8,
    repo_col: str = "repo",
    text_col: str = "content",
    min_shared: int = 2,
    max_repo_freq: int = 1000,
) -> DataFrame:
    """(a, b, jaccard, n_shared) for repo pairs whose FILE-HASH sets have
    Jaccard >= ``threshold`` (a < b lexicographically) — the fork-collapse
    candidate relation. Exact, not sketched: the per-repo feature is the
    distinct sha256 set of its file contents, candidates are repo pairs
    sharing >= ``min_shared`` hashes, and the Jaccard is computed from
    the shared-hash count plus the two set sizes.

    Files whose hash appears in more than ``max_repo_freq`` repos are
    dropped from candidate generation AND from the set sizes (an empty
    ``__init__.py`` or a vendored LICENSE lives in a million repos and
    says nothing about forkness; keeping it in the denominator would
    asymmetrically dilute small repos).

    Scale shape: hashing is one scan-side sha2; the (hash, repo) relation
    is distinct fixed-width rows; the hot-hash cap bounds the self-join
    fan-out per hash at ``max_repo_freq``^2 (the same guard as
    containment_near_dups's max_doc_freq); pair aggregation keys on
    (a, b) — fixed width, never file text. Cost scales with shared-hash
    pairs, not repos^2."""
    fh, sizes = _repo_hash_sets(files, repo_col, text_col, max_repo_freq)
    a = fh.select(F.col("repo").alias("a"), "h")
    b = fh.select(F.col("repo").alias("b"), "h")
    shared = (
        a.join(b, "h")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= int(min_shared))
    )
    j = (
        shared.join(sizes.select(F.col("repo").alias("a"), F.col("nf").alias("na")), "a")
        .join(sizes.select(F.col("repo").alias("b"), F.col("nf").alias("nb")), "b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_shared")
                / (F.col("na") + F.col("nb") - F.col("n_shared")),
                4,
            ),
        )
        .filter(F.col("jaccard") >= float(threshold))
    )
    return j.select("a", "b", "jaccard", "n_shared")


def collapse_forks(
    files: DataFrame,
    threshold: float = 0.8,
    repo_col: str = "repo",
    text_col: str = "content",
    min_shared: int = 2,
    max_repo_freq: int = 1000,
    max_iter: int = 50,
) -> DataFrame:
    """Keep ONE canonical repo per fork cluster: connected components
    over :func:`repo_near_dups` pairs, canonical = the member with the
    MOST (capped-set) files, ties to the lexicographically smallest repo
    name — the fullest copy is usually the upstream. Returns the
    surviving rows of ``files``. Repos in no fork cluster survive
    untouched.

    Scale shape: the component relation is repo-grain (tiny next to the
    file table); the loser set anti-joins back against the file scan."""
    from pyspark.sql import Window

    from google_spark.operators.components import connected_components

    pairs = repo_near_dups(
        files,
        threshold=threshold,
        repo_col=repo_col,
        text_col=text_col,
        min_shared=min_shared,
        max_repo_freq=max_repo_freq,
    )
    # connected_components labels LONG node ids; repo names map through
    # the engine-wide portable 48-bit md5 surrogate (collision odds are
    # birthday-bounded: ~1e-8 at 100k repos in a cluster; a collision
    # would conservatively merge two clusters, never split one)
    rid = lambda c: F.conv(F.substring(F.md5(c), 1, 12), 16, 10).cast("long")  # noqa: E731
    comp = connected_components(
        pairs.select(rid(F.col("a")).alias("a"), rid(F.col("b")).alias("b")),
        max_iter=max_iter,
        strict=True,
    )
    names = (
        pairs.select(F.col("a").alias("repo"))
        .union(pairs.select(F.col("b").alias("repo")))
        .distinct()
        .select("repo", rid(F.col("repo")).alias("id"))
    )
    comp = comp.join(names, "id").select(
        "repo", F.col("comp").alias("component")
    )
    _fh, sizes = _repo_hash_sets(files, repo_col, text_col, max_repo_freq)
    scored = comp.join(sizes, "repo", "left").withColumn(
        "nf", F.coalesce(F.col("nf"), F.lit(0))
    )
    w = Window.partitionBy("component").orderBy(F.desc("nf"), F.col("repo"))
    losers = (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") > 1)
        .select("repo")
    )
    return files.join(
        losers.withColumnRenamed("repo", repo_col), repo_col, "left_anti"
    )


# ---------------------------------------------------------------------------
# Winnowing fingerprints (Schleimer, Wilkerson & Aiken 2003, "Winnowing:
# Local Algorithms for Document Fingerprinting" — the MOSS algorithm).
# Guarantees: any shared substring of length >= w + k - 1 produces at
# least one shared fingerprint, and no fingerprint window goes
# unsampled — the local-fingerprint property global MinHash lacks, which
# is what code CLONE detection (copied functions inside otherwise
# unrelated files) needs.
# ---------------------------------------------------------------------------

WINNOW_K = 8   # k-gram length over the squeezed text
WINNOW_W = 6   # window of consecutive k-gram hashes


def winnow_fingerprints(
    docs: DataFrame,
    k: int = WINNOW_K,
    w: int = WINNOW_W,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id, pos, fp): the winnowing fingerprint set of each document.
    Text is squeezed MOSS-style (lowercase, every non-[a-z0-9] character
    removed) so whitespace/punctuation edits don't change fingerprints;
    k-gram hashes are the engine-wide 48-bit md5 prefix; each window of
    ``w`` consecutive hashes contributes its minimum (ties to the
    RIGHTMOST minimal position — robust winnowing, so runs of equal
    hashes don't over-select), deduplicated on (pos, fp). Documents whose
    squeezed text is shorter than ``k + w - 1`` characters (fewer than
    ``w`` k-gram hashes — not even one full window) produce no rows.

    Scale shape: everything up to the fingerprint set is higher-order
    functions inside the scan projection (hash array, per-window argmin,
    distinct) — zero exchanges; the output is ~n/w fingerprints per doc,
    fixed-width."""
    s = F.regexp_replace(F.lower(F.coalesce(F.col(text_col), F.lit(""))), "[^a-z0-9]", "")
    n = F.length(s)
    # guards: F.sequence DESCENDS when stop < start, so short docs must
    # short-circuit to empty arrays explicitly
    hashes = F.when(
        n >= k,
        F.transform(
            F.sequence(F.lit(1), n - (k - 1)),
            lambda i: F.conv(F.substring(F.md5(F.substring(s, i, k)), 1, 12), 16, 10).cast("long"),
        ),
    ).otherwise(F.array().cast("array<long>"))
    # materialize the hash array ONCE per row: referencing the raw
    # expression inside the window lambdas would re-evaluate the whole
    # O(n) transform per element access — O(n^2 w) per doc
    hashed = docs.select(F.col(id_col), hashes.alias("_h"))
    h = F.col("_h")
    nh = F.size(h)
    # per window start j (0-based): rightmost argmin of h[j .. j+w-1]
    sel = F.when(nh >= w, F.transform(
        F.sequence(F.lit(0), nh - w),
        lambda j: F.aggregate(
            F.sequence(F.lit(0), F.lit(w - 1)),
            F.struct(
                F.lit(1 << 62).cast("long").alias("mv"),
                F.lit(-1).cast("long").alias("mp"),
            ),
            lambda acc, o: F.when(
                F.element_at(h, (j + o + 1).cast("int")) <= acc["mv"],
                F.struct(
                    F.element_at(h, (j + o + 1).cast("int")).alias("mv"),
                    (j + o).cast("long").alias("mp"),
                ),
            ).otherwise(acc),
        ),
    )).otherwise(F.array().cast("array<struct<mv:long,mp:long>>"))
    rows = hashed.select(
        F.col(id_col),
        F.explode(F.array_distinct(sel)).alias("_fp"),
    )
    return rows.select(
        F.col(id_col),
        F.col("_fp.mp").alias("pos"),
        F.col("_fp.mv").alias("fp"),
    ).distinct()


def clone_pairs(
    fps: DataFrame,
    min_shared: int = 2,
    id_col: str = "doc_id",
    max_doc_freq: int = 1000,
) -> DataFrame:
    """(a, b, n_shared) for document pairs sharing >= ``min_shared``
    winnowing fingerprints (a < b) — the clone-suspect relation over a
    :func:`winnow_fingerprints` table. Fingerprints present in more than
    ``max_doc_freq`` docs (universal boilerplate) are excluded from
    pairing, the same hot-key guard as the other candidate generators.

    Scale shape: the (fp, id) relation is distinct fixed-width rows, the
    self-join keys on fp with the hot cap bounding per-key fan-out, and
    the pair count aggregates fixed-width (a, b) keys."""
    base = fps.select(F.col(id_col).alias("id"), "fp").distinct()
    dfc = base.groupBy("fp").agg(F.count(F.lit(1)).alias("nd"))
    base = base.join(
        dfc.filter(F.col("nd") <= max_doc_freq).select("fp"), "fp", "left_semi"
    )
    a = base.select(F.col("id").alias("a"), "fp")
    b = base.select(F.col("id").alias("b"), "fp")
    return (
        a.join(b, "fp")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= int(min_shared))
    )


def clone_matches(
    fps: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """(a, b, fp, a_pos, b_pos): the matched fingerprint positions behind
    each :func:`clone_pairs` suspect — the evidence a MOSS-style review
    UI highlights (which regions of a matched which regions of b).
    Positions are k-gram indexes into the squeezed text, one row per
    (fingerprint, position pair); a fingerprint occurring at several
    positions in a doc yields the full cross of its positions.

    Scale shape: the fingerprint table is semi-joined down to the docs
    appearing in ``pairs`` FIRST, so cost scales with the suspects, not
    the corpus; the match join keys on (pair, fp) — fixed width."""
    ids = pairs.select(F.col("a").alias("id")).union(
        pairs.select(F.col("b").alias("id"))
    ).distinct()
    needed = fps.join(ids, fps[id_col] == ids["id"], "left_semi")
    fa = needed.select(
        F.col(id_col).alias("a"), F.col("fp"), F.col("pos").alias("a_pos")
    )
    fb = needed.select(
        F.col(id_col).alias("b"), F.col("fp"), F.col("pos").alias("b_pos")
    )
    return (
        pairs.select("a", "b")
        .join(fa, "a")
        .join(fb, ["b", "fp"])
        .select("a", "b", "fp", "a_pos", "b_pos")
    )
