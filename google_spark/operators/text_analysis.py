"""Text analysis for training-data pipelines: language ID, quality scoring,
token counting, document fingerprinting.

All JVM-side (split / filter / transform / aggregate higher-order
functions) — no Python in any hot path, so every operator whole-stage
codegens and scales linearly with the scan.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from google_spark.operators.dedup import shingles_col, tokens_col

# Tiny per-language stopword profiles for the n-gram/stopword-ratio
# heuristic. Deterministic and oracle-replicable; precision is bounded by
# design (a real pipeline swaps in fastText — out of scope offline).
LANG_PROFILES: dict[str, tuple[str, ...]] = {
    "en": ("the", "of", "and", "to", "in", "is", "that", "it", "for", "with"),
    "de": ("der", "die", "das", "und", "ist", "von", "mit", "den", "nicht", "ein"),
    "es": ("el", "la", "de", "que", "los", "las", "una", "por", "con", "para"),
    "fr": ("le", "la", "et", "les", "des", "une", "est", "dans", "pour", "que"),
}


def _ratio(toks: Column, words: tuple[str, ...]) -> Column:
    hits = F.size(F.array_intersect(F.array_distinct(toks), F.array(*[F.lit(w) for w in words])))
    n = F.size(F.array_distinct(toks))
    return F.when(n > 0, hits.cast("double") / n).otherwise(F.lit(0.0))


def language_id(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(doc_id, lang_pred, lang_score): argmax stopword-profile overlap
    ratio; 'und' (undetermined) when no profile matches at all. Ties break
    by profile order en > de > es > fr (deterministic)."""
    toks = tokens_col(text_col)
    out = docs.select(F.col(id_col), toks.alias("toks"))
    for lang, words in LANG_PROFILES.items():
        out = out.withColumn(f"r_{lang}", _ratio(F.col("toks"), words))
    best = F.greatest(*[F.col(f"r_{lang}") for lang in LANG_PROFILES])
    pred = F.lit("und")
    for lang in reversed(list(LANG_PROFILES)):
        pred = F.when(
            (best > 0) & (F.col(f"r_{lang}") == best), F.lit(lang)
        ).otherwise(pred)
    return out.select(
        id_col, pred.alias("lang_pred"), F.round(best, 4).alias("lang_score")
    )


def token_count(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    # NULL text counts as 0 tokens — size(null) is NULL (or -1 under
    # legacy sizeOfNull), which would propagate into pack_id/total_tokens
    # downstream; same guard build_index applies to doc lengths
    return docs.select(
        F.col(id_col),
        F.when(F.col(text_col).isNull(), F.lit(0))
        .otherwise(F.size(tokens_col(text_col)))
        .cast("int")
        .alias("n_tokens"),
    )


def token_estimate(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chars_per_subword: int = 4,
) -> DataFrame:
    """(doc_id, n_tokens_ws, n_tokens_bpe): whitespace token count plus a
    BPE-ish subword estimate — each whitespace word contributes
    ceil(len(word)/chars_per_subword) subwords (the ~4-chars-per-token
    heuristic LLM data pipelines budget with). Pure JVM expressions; no
    tokenizer model is shipped offline, and the estimate is the quantity a
    100 TB pre-filter actually needs (token budgets, not exact BPE ids)."""
    words = F.filter(
        F.split(F.col(text_col), "\\s+"), lambda w: F.length(w) > 0
    )
    # ceil(len/c) via integer arithmetic: (len + c - 1) div c
    c = chars_per_subword
    bpe = F.aggregate(
        F.transform(words, lambda w: (F.length(w) + F.lit(c - 1)).cast("int")),
        F.lit(0),
        lambda a, x: a + F.floor(x / c).cast("int"),
    )
    return docs.select(
        F.col(id_col),
        F.when(F.col(text_col).isNull(), F.lit(0))
        .otherwise(F.size(words))
        .cast("int")
        .alias("n_tokens_ws"),
        F.when(F.col(text_col).isNull(), F.lit(0))
        .otherwise(bpe)
        .cast("int")
        .alias("n_tokens_bpe"),
    )


def quality_scores(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(doc_id, n_chars, alpha_ratio, mean_token_len) — the length/charset
    heuristics a pretraining filter runs before anything expensive.
    alpha_ratio is 0.0 (not NULL) for empty/NULL documents, so a
    ``>= min_quality`` gate drops them explicitly rather than silently via
    NULL-comparison semantics."""
    toks = tokens_col(text_col)
    n_alpha = F.length(F.regexp_replace(F.col(text_col), "[^a-zA-Z]", ""))
    n_chars = F.length(text_col)
    alpha = F.when(
        n_chars > 0, F.round(n_alpha.cast("double") / n_chars, 4)
    ).otherwise(F.lit(0.0))
    mean_tok = F.when(
        F.size(toks) > 0,
        F.aggregate(F.transform(toks, F.length), F.lit(0), lambda a, x: a + x)
        / F.size(toks),
    ).otherwise(F.lit(0.0))
    return docs.select(
        id_col,
        n_chars.alias("n_chars"),
        alpha.alias("alpha_ratio"),
        F.round(mean_tok, 4).alias("mean_token_len"),
    )


def repetition_scores(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    char_run_len: int = 20,
) -> DataFrame:
    """(doc_id, dup_line_frac, top_bigram_frac, has_char_run) — the
    Gopher-style repetition signals a pretraining filter applies after the
    cheap charset checks (Rae et al. 2021, "Scaling Language Models",
    table A1: repeated lines / most-common-n-gram dominance):

    - ``dup_line_frac``: 1 - distinct/total over non-empty trimmed lines
      (0.0 when the doc has no lines). Computed scan-side with array
      expressions — whole-stage codegen, no shuffle.
    - ``top_bigram_frac``: occurrences of the most frequent token bigram /
      total bigrams (0.0 when fewer than 2 tokens). Computed as explode ->
      per-(doc, bigram) count -> per-doc max/sum: two hash aggregates
      keyed by doc_id, linear in corpus size, map-side partial agg — the
      per-doc vocabulary never concentrates on one key, so no skew guard
      is needed.
    - ``has_char_run``: any single character repeated >= ``char_run_len``
      times (keyboard-mash / separator-art detector), one JVM regex.
    """
    # NB: F.transform(arr, F.trim) is a trap — F.trim has an optional
    # second parameter, so transform hands it the element INDEX as the
    # trim-character set; the one-arg lambda pins the unary signature
    lines = F.filter(
        F.transform(F.split(F.col(text_col), "\n"), lambda ln: F.trim(ln)),
        lambda ln: F.length(ln) > 0,
    )
    dup_line = F.when(
        F.size(lines) > 0,
        1.0 - F.size(F.array_distinct(lines)).cast("double") / F.size(lines),
    ).otherwise(F.lit(0.0))
    # (?s) dotall: without it Java's `.` excludes line terminators, so a
    # run of 20+ blank lines (common in scraped text) would escape the
    # detector — and diverge from the oracle's raw-substring comparison
    run_re = f"(?s)(.)\\1{{{char_run_len - 1},}}"
    base = docs.select(
        F.col(id_col),
        F.round(dup_line, 4).alias("dup_line_frac"),
        F.coalesce(F.col(text_col), F.lit("")).rlike(run_re).alias(
            "has_char_run"
        ),
    )
    # same idiom as dedup._shingle_rows: tokens materialized in their OWN
    # projection (3 references below keep CollapseProject from re-inlining
    # the tokenization), element_at probes instead of slice allocations,
    # and a when-guard because sequence(1, n-1) DESCENDS when n == 0
    tk = docs.select(F.col(id_col), tokens_col(text_col).alias("tk"))
    toks = F.col("tk")
    n = F.size(toks)
    bigrams = tk.select(
        id_col,
        F.explode(
            F.when(
                n >= 2,
                F.transform(
                    F.sequence(F.lit(1), n - 1),
                    lambda i: F.concat_ws(
                        " ", F.element_at(toks, i), F.element_at(toks, i + 1)
                    ),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("bigram"),
    )
    top_frac = (
        bigrams.groupBy(id_col, "bigram")
        .count()
        .groupBy(id_col)
        .agg(
            F.round(
                F.max("count").cast("double") / F.sum("count"), 4
            ).alias("top_bigram_frac")
        )
    )
    return (
        base.join(top_frac, on=id_col, how="left")
        .select(
            id_col,
            "dup_line_frac",
            F.coalesce("top_bigram_frac", F.lit(0.0)).alias(
                "top_bigram_frac"
            ),
            "has_char_run",
        )
    )


def unigram_logprob(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(doc_id, n_tokens, mean_logprob) — mean token log-probability under
    the corpus's OWN unigram distribution: the scan-scale analog of the
    LM-perplexity quality filter (CCNet/Gopher run a trained LM; this
    needs no external model, and ranks the same tail — docs dominated by
    rare/garbage tokens score low, ordinary prose scores high).

    Scale shape: everything is aggregated to per-doc (term, tf) FIRST
    (explode -> hash agg with map-side combine), so the term-keyed join
    against the vocabulary-sized frequency table carries one row per
    distinct (doc, term) — not one per token occurrence — and hot terms
    ("the") skew only that reduced relation (AQE skew-join splits it).
    The corpus total joins in as a broadcast scalar. Three linear
    shuffles total; nothing is ever collected to the driver."""
    tf = (
        docs.select(F.col(id_col), F.explode(tokens_col(text_col)).alias("term"))
        .groupBy(id_col, "term")
        .agg(F.count("*").alias("tf"))
    )
    freq = tf.groupBy("term").agg(F.sum("tf").alias("c"))
    total = freq.agg(F.sum("c").alias("n_total"))
    scored = (
        tf.join(freq, "term")
        .crossJoin(F.broadcast(total))
        .groupBy(id_col)
        .agg(
            F.sum("tf").cast("long").alias("n_tokens"),
            F.round(
                F.sum(
                    F.col("tf")
                    * F.log(F.col("c").cast("double") / F.col("n_total"))
                )
                / F.sum("tf"),
                4,
            ).alias("mean_logprob"),
        )
    )
    return (
        docs.select(id_col)
        .join(scored, on=id_col, how="left")
        .select(
            id_col,
            F.coalesce("n_tokens", F.lit(0).cast("long")).alias("n_tokens"),
            F.coalesce("mean_logprob", F.lit(0.0)).alias("mean_logprob"),
        )
    )


def _bigram_rows(
    docs: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """(doc_id, bigram "x y") — one row per bigram OCCURRENCE, the shared
    extraction behind :func:`repetition_scores`, :func:`pmi_bigrams` and
    :func:`bigram_logprob`. Same sharp edges as repetition_scores: tokens
    materialized in their own projection, element_at probes, and a
    when-guard because sequence(1, n-1) DESCENDS when n == 0."""
    tk = docs.select(F.col(id_col), tokens_col(text_col).alias("tk"))
    toks = F.col("tk")
    n = F.size(toks)
    return tk.select(
        id_col,
        F.explode(
            F.when(
                n >= 2,
                F.transform(
                    F.sequence(F.lit(1), n - 1),
                    lambda i: F.concat_ws(
                        " ", F.element_at(toks, i), F.element_at(toks, i + 1)
                    ),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("bigram"),
    )


def keywords_tfidf(
    docs: DataFrame,
    k: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, term, kw_score, rank) — each document's top-k terms by
    classic tf·ln(N/df) (the per-doc keyword / tag extraction a corpus
    browser or data-mixing report runs). Ties break term-asc.

    Scale shape: per-doc (term, tf) hash agg -> global df hash agg -> one
    term-keyed join (both sides already reduced to distinct (doc, term) /
    term grain) -> per-doc rank window. The ``rank <= k`` predicate
    collapses the window into WindowGroupLimit (a per-partition top-k
    heap), so no per-doc group ever materializes fully."""
    from pyspark.sql.window import Window

    tf = (
        docs.select(F.col(id_col), F.explode(tokens_col(text_col)).alias("term"))
        .groupBy(id_col, "term")
        .agg(F.count("*").alias("tf"))
    )
    dft = tf.groupBy("term").agg(F.count("*").alias("df"))
    n_docs = docs.select(F.count("*").alias("n_docs"))
    scored = (
        tf.join(dft, "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            F.col(id_col),
            "term",
            # rank on the ROUNDED score: raw tf*ln(N/df) can differ between
            # engines in the last ulp (Java Math.log vs libm), which would
            # flip row_number on near-ties; 4 decimals + term-asc is a
            # total order both engines compute identically
            F.round(
                F.col("tf").cast("double")
                * F.log(F.col("n_docs").cast("double") / F.col("df")),
                4,
            ).alias("kw_score"),
        )
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("kw_score"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            id_col,
            "term",
            "kw_score",
            F.col("rank").cast("int").alias("rank"),
        )
    )


def pmi_bigrams(
    docs: DataFrame,
    min_count: int = 5,
    topn: int = 20,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(bigram, n, pmi) — the corpus's ``topn`` strongest collocations by
    pointwise mutual information, ``pmi = ln((c_xy/B) / ((c_x/T)(c_y/T)))``
    with B = total bigram occurrences, T = total token occurrences, and a
    ``c_xy >= min_count`` support floor (rare pairs otherwise dominate PMI).
    Ties break bigram-asc.

    Scale shape: bigram and unigram relations are both aggregated scan-side
    to their key grain before anything joins (map-side combine); the two
    scalar totals ride in as broadcast literals; the two count joins are
    fixed-width-keyed and linear in the distinct-bigram count. The final
    top-n is TakeOrderedAndProject, never a global sort."""
    bg = (
        _bigram_rows(docs, id_col, text_col)
        .groupBy("bigram")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") >= min_count)
    )
    uni = (
        docs.select(F.explode(tokens_col(text_col)).alias("term"))
        .groupBy("term")
        .agg(F.count("*").alias("c"))
    )
    totals = uni.agg(
        F.sum("c").cast("double").alias("t_uni")
    ).crossJoin(
        _bigram_rows(docs, id_col, text_col).agg(
            F.count("*").cast("double").alias("t_bg")
        )
    )
    split = bg.select(
        "bigram",
        "n",
        F.split_part(F.col("bigram"), F.lit(" "), F.lit(1)).alias("x"),
        F.split_part(F.col("bigram"), F.lit(" "), F.lit(2)).alias("y"),
    )
    cx = uni.select(F.col("term").alias("x"), F.col("c").alias("cx"))
    cy = uni.select(F.col("term").alias("y"), F.col("c").alias("cy"))
    return (
        split.join(cx, "x")
        .join(cy, "y")
        .crossJoin(F.broadcast(totals))
        .select(
            "bigram",
            F.col("n").cast("long").alias("n"),
            F.round(
                F.log(
                    (F.col("n") / F.col("t_bg"))
                    / ((F.col("cx") / F.col("t_uni")) * (F.col("cy") / F.col("t_uni")))
                ),
                4,
            ).alias("pmi"),
        )
        .orderBy(F.desc("pmi"), F.asc("bigram"))
        .limit(topn)
    )


def bigram_logprob(
    docs: DataFrame,
    lam: float = 0.7,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, n_bigrams, mean_logprob) — mean bigram log-probability under
    an interpolated corpus LM: ``P(y|x) = lam * c_xy/c_x· + (1-lam) * c_y/T``
    where ``c_x·`` counts bigrams STARTING with x and T is total tokens. The
    second-order upgrade of :func:`unigram_logprob` (Gopher/CCNet-style LM
    quality floor, self-trained on the corpus, no external model); repeated
    boilerplate scores high, token salad scores low, and the unigram
    interpolation floor keeps unseen-bigram docs finite.

    Scale shape mirrors unigram_logprob: per-doc (x, y, tf) hash agg FIRST,
    then three count joins at distinct-bigram/unigram grain, a broadcast
    scalar total, one final per-doc agg. Linear shuffles only."""
    pairs = _bigram_rows(docs, id_col, text_col).select(
        F.col(id_col),
        F.split_part(F.col("bigram"), F.lit(" "), F.lit(1)).alias("x"),
        F.split_part(F.col("bigram"), F.lit(" "), F.lit(2)).alias("y"),
    )
    tf = pairs.groupBy(id_col, "x", "y").agg(F.count("*").alias("tf"))
    c_xy = tf.groupBy("x", "y").agg(F.sum("tf").alias("cxy"))
    c_xs = c_xy.groupBy("x").agg(F.sum("cxy").alias("cxs"))
    uni = (
        docs.select(F.explode(tokens_col(text_col)).alias("y"))
        .groupBy("y")
        .agg(F.count("*").alias("cy"))
    )
    total = uni.agg(F.sum("cy").cast("double").alias("t_uni"))
    logp = F.log(
        F.lit(lam) * F.col("cxy") / F.col("cxs")
        + F.lit(1.0 - lam) * F.col("cy") / F.col("t_uni")
    )
    scored = (
        tf.join(c_xy, ["x", "y"])
        .join(c_xs, "x")
        .join(uni, "y")
        .crossJoin(F.broadcast(total))
        .groupBy(id_col)
        .agg(
            F.sum("tf").cast("long").alias("n_bigrams"),
            F.round(F.sum(F.col("tf") * logp) / F.sum("tf"), 4).alias(
                "mean_logprob"
            ),
        )
    )
    return (
        docs.select(id_col)
        .join(scored, on=id_col, how="left")
        .select(
            id_col,
            F.coalesce("n_bigrams", F.lit(0).cast("long")).alias("n_bigrams"),
            F.coalesce("mean_logprob", F.lit(0.0)).alias("mean_logprob"),
        )
    )


def doc_fingerprint(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 5,
    n_keep: int = 4,
) -> DataFrame:
    """Winnowing-style fingerprint: the ``n_keep`` lexicographically smallest
    md5(shingle) values, joined — a compact, order-insensitive content
    signature (the rolling-hash fingerprint analog, computed with the same
    shingle machinery as MinHash so one scan can produce both)."""
    sh = shingles_col(tokens_col(text_col), k=shingle_k)
    hashes = F.array_sort(F.transform(F.array_distinct(sh), F.md5))
    fp = F.concat_ws(",", F.slice(hashes, 1, n_keep))
    return docs.select(
        F.col(id_col),
        F.when(F.size(sh) > 0, fp).otherwise(F.lit("")).alias("fingerprint"),
    )


# PII / secret patterns. Deliberately restricted to syntax both Java regex
# and RE2 accept identically (character classes, bounded quantifiers, \b,
# (?:...)): no backreferences, no lookaround, so the list ports verbatim to
# another engine. The chain's output is pinned by
# tests/test_pipeline.py::test_scrub_pii_patterns_and_chain_order.
PII_PATTERNS = (
    # (name, pattern, replacement) — applied in this order
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("aws_key", r"\bAKIA[0-9A-Z]{16}\b", "<KEY>"),
    ("hex_secret", r"\b[A-Fa-f0-9]{32,}\b", "<KEY>"),
    ("ipv4", r"\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b", "<IP>"),
)


def scrub_pii(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(doc_id, text_clean, n_email, n_aws_key, n_hex_secret, n_ipv4) —
    the regex-based PII/secret scrub a pretraining pipeline runs before
    anything ships (emails, AWS-style access-key ids, >=32-hex-char
    secrets, IPv4 addresses -> typed sentinels). Pure JVM regexp
    expressions (whole-stage codegen, no Python); the pattern list is
    portable across regex engines (see PII_PATTERNS).
    Each count equals the number of substitutions that pattern MADE, i.e.
    it is measured on the text as already rewritten by the previous
    patterns in the chain — an email's host is inside <EMAIL> by the time
    the IP pattern runs, so 'user@10.1.2.3' yields n_email=1, n_ipv4=0."""
    counts = []
    cleaned = F.col(text_col)
    for name, pat, repl in PII_PATTERNS:
        # count occurrences surviving the PREVIOUS replacements: mirror the
        # chain so counts always equal the number of substitutions made
        counts.append(
            F.size(F.regexp_extract_all(cleaned, F.lit(pat), F.lit(0)))
            .cast("long")
            .alias(f"n_{name}")
        )
        cleaned = F.regexp_replace(cleaned, pat, repl)
    return docs.select(F.col(id_col), cleaned.alias("text_clean"), *counts)


# The 8 Gopher "required words" (Rae et al. 2021, table A1) — at least
# two must appear for a document to pass the rule set.
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_rules(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    max_bullet_frac: float = 0.9,
    max_ellipsis_frac: float = 0.3,
    min_alpha_word_frac: float = 0.8,
    min_stop_hits: int = 2,
) -> DataFrame:
    """The Gopher document-quality rule set (Rae et al. 2021, "Scaling
    Language Models: ... Gopher", table A1) as ONE scan-side pass: every
    signal plus the composite ``keep`` verdict, so a pipeline can either
    gate on ``keep`` or re-threshold the signals without rescanning.

    Signals (words = non-empty whitespace-split runs; lines = non-empty
    trimmed '\\n'-split lines):

    - ``n_words``, ``mean_word_len`` — length gates (50..100k words,
      mean word length 3..10)
    - ``symbol_ratio`` — ('#' occurrences + '...' occurrences) / words
      (the hash/ellipsis symbol-to-word rule, < 0.1)
    - ``bullet_frac`` / ``ellipsis_frac`` — fraction of lines starting
      with a bullet ('-', '*', '•'; < 0.9) / ending with an ellipsis
      ('...' or '…'; < 0.3)
    - ``alpha_word_frac`` — fraction of words containing at least one
      ASCII letter (> 0.8)
    - ``n_stop_hits`` — how many of the 8 required words appear (>= 2)
    - ``keep`` — AND of all seven rules

    Empty/NULL documents yield zeroed signals and ``keep = false``.

    Scale shape: pure scan-side higher-order functions and regex counts —
    whole-stage codegen, zero exchanges, linear in corpus bytes; exactly
    reproducible in ANSI SQL."""
    text = F.coalesce(F.col(text_col), F.lit(""))
    words = F.filter(F.split(text, r"\s+"), lambda x: F.length(x) > 0)
    n_words = F.size(words)
    mean_wl = F.when(
        n_words > 0,
        F.aggregate(F.transform(words, F.length), F.lit(0), lambda a, x: a + x)
        .cast("double")
        / n_words,
    ).otherwise(F.lit(0.0))
    n_hash = F.length(text) - F.length(F.replace(text, F.lit("#"), F.lit("")))
    n_ellip = (
        F.length(text) - F.length(F.replace(text, F.lit("..."), F.lit("")))
    ) / 3
    sym_ratio = F.when(
        n_words > 0, (n_hash + n_ellip).cast("double") / n_words
    ).otherwise(F.lit(0.0))
    lines = F.filter(
        F.transform(F.split(text, "\n"), lambda ln: F.trim(ln)),
        lambda ln: F.length(ln) > 0,
    )
    n_lines = F.size(lines)
    n_bullet = F.size(F.filter(lines, lambda ln: ln.rlike("^[-*•]")))
    n_ell_end = F.size(
        F.filter(lines, lambda ln: ln.rlike("(\\.\\.\\.|…)$"))
    )
    bullet_frac = F.when(
        n_lines > 0, n_bullet.cast("double") / n_lines
    ).otherwise(F.lit(0.0))
    ellipsis_frac = F.when(
        n_lines > 0, n_ell_end.cast("double") / n_lines
    ).otherwise(F.lit(0.0))
    n_alpha_w = F.size(F.filter(words, lambda x: x.rlike("[A-Za-z]")))
    alpha_frac = F.when(
        n_words > 0, n_alpha_w.cast("double") / n_words
    ).otherwise(F.lit(0.0))
    stop_hits = F.size(
        F.array_intersect(
            F.array_distinct(tokens_col(text)),
            F.array(*[F.lit(s) for s in GOPHER_STOPWORDS]),
        )
    )
    keep = (
        (n_words >= min_words)
        & (n_words <= max_words)
        & (mean_wl >= min_mean_word_len)
        & (mean_wl <= max_mean_word_len)
        & (sym_ratio < max_symbol_ratio)
        & (bullet_frac < max_bullet_frac)
        & (ellipsis_frac < max_ellipsis_frac)
        & (alpha_frac > min_alpha_word_frac)
        & (stop_hits >= min_stop_hits)
    )
    return docs.select(
        F.col(id_col),
        n_words.cast("long").alias("n_words"),
        F.round(mean_wl, 4).alias("mean_word_len"),
        F.round(sym_ratio, 4).alias("symbol_ratio"),
        F.round(bullet_frac, 4).alias("bullet_frac"),
        F.round(ellipsis_frac, 4).alias("ellipsis_frac"),
        F.round(alpha_frac, 4).alias("alpha_word_frac"),
        stop_hits.cast("int").alias("n_stop_hits"),
        keep.alias("keep"),
    )


# ---------------------------------------------------------------------------
# Character-n-gram language identification (Cavnar & Trenkle 1994,
# "N-Gram-Based Text Categorization" — the classic rank-profile method;
# the scale path when no pretrained fastText model can ship). Profiles are
# TRAINED from labeled rows, so any label taxonomy works (natural
# languages, programming languages from the `lang` column of a code
# table, sources).
# ---------------------------------------------------------------------------

LANGID_NGRAM_N = 3
LANGID_PROFILE_SIZE = 100


def _char_ngrams(text_col: Column, n: int) -> Column:
    """Character n-grams of the normalized text: lowercase, non-[a-z0-9]
    runs collapsed to one space, trimmed. Empty array when shorter than
    ``n``. Pure HOF expression — whole-stage codegen, zero exchanges."""
    norm = F.trim(
        F.regexp_replace(F.lower(F.coalesce(text_col, F.lit(""))), "[^a-z0-9]+", " ")
    )
    ln = F.length(norm)
    return F.when(
        ln >= n,
        F.transform(
            F.sequence(F.lit(1), ln - (n - 1)), lambda i: F.substring(norm, i, n)
        ),
    ).otherwise(F.array().cast("array<string>"))


def langid_ngram_train(
    docs: DataFrame,
    lang_col: str = "lang",
    text_col: str = "text",
    n: int = LANGID_NGRAM_N,
    profile_size: int = LANGID_PROFILE_SIZE,
) -> DataFrame:
    """(lang, gram, rank): each label's ``profile_size`` most frequent
    character ``n``-grams in frequency-rank order (ties break by gram,
    so the profile is deterministic and any engine replays it).

    Scale shape: grams explode scan-side, ONE (lang, gram) aggregate with
    partial combine, then a per-lang top-N window — WindowGroupLimit
    keeps at most ``profile_size`` rows per label per task before the
    exchange. The output is n_labels x profile_size rows: broadcast-sized
    for classification no matter the corpus."""
    counts = (
        docs.select(F.col(lang_col).alias("lang"), F.explode(_char_ngrams(F.col(text_col), n)).alias("gram"))
        .groupBy("lang", "gram")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    w = Window.partitionBy("lang").orderBy(F.desc("c"), F.col("gram"))
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= profile_size)
        .select("lang", "gram", F.col("rank").cast("int").alias("rank"))
    )


def langid_ngram_classify(
    docs: DataFrame,
    profiles: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = LANGID_NGRAM_N,
    profile_size: int = LANGID_PROFILE_SIZE,
) -> DataFrame:
    """(id, lang_pred, oop_distance): Cavnar–Trenkle out-of-place
    classification. Each document's top-``profile_size`` gram ranks are
    compared against every trained profile; a gram missing from a profile
    costs the maximum penalty (``profile_size``), matching grams cost
    ``|doc_rank - profile_rank|``; the label with the smallest summed
    distance wins (ties break by label, ascending). Documents with no
    grams (empty after normalization) predict 'und' with distance 0.

    Scale shape: the document profile needs one (id, gram) aggregate and
    one per-doc top-N window (WindowGroupLimit caps per-task state); the
    trained profiles and the label list are broadcast; scoring is a
    fixed-fanout cross of each doc's <= profile_size grams with n_labels
    rows, aggregated back to (id, lang) then argmin'd with one more
    per-doc window. Everything downstream of the scan is fixed-width —
    no text shuffles."""
    doc_counts = (
        docs.select(F.col(id_col), F.explode(_char_ngrams(F.col(text_col), n)).alias("gram"))
        .groupBy(id_col, "gram")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    dw = Window.partitionBy(id_col).orderBy(F.desc("c"), F.col("gram"))
    doc_prof = (
        doc_counts.withColumn("drank", F.row_number().over(dw))
        .filter(F.col("drank") <= profile_size)
        .select(id_col, "gram", "drank")
    )
    langs = profiles.select("lang").distinct()
    scored = (
        doc_prof.crossJoin(F.broadcast(langs))
        .join(F.broadcast(profiles), ["lang", "gram"], "left")
        .groupBy(id_col, "lang")
        .agg(
            F.sum(
                F.coalesce(
                    F.abs(F.col("drank") - F.col("rank")),
                    F.lit(profile_size),
                )
            ).alias("dist")
        )
    )
    aw = Window.partitionBy(id_col).orderBy(F.col("dist"), F.col("lang"))
    best = (
        scored.withColumn("_rn", F.row_number().over(aw))
        .filter(F.col("_rn") == 1)
        .select(id_col, F.col("lang").alias("lang_pred"), F.col("dist").cast("long").alias("oop_distance"))
    )
    return docs.select(id_col).join(best, id_col, "left").select(
        id_col,
        F.coalesce(F.col("lang_pred"), F.lit("und")).alias("lang_pred"),
        F.coalesce(F.col("oop_distance"), F.lit(0).cast("long")).alias("oop_distance"),
    )


# ---------------------------------------------------------------------------
# License detection — the gate every code-training pipeline needs before a
# repository file may enter the corpus. Two signal tiers: an explicit
# SPDX-License-Identifier tag (authoritative when present) and phrase
# heuristics over the document head for the common license families.
# Pure scan-side JVM regex — zero exchanges, exactly replayable in SQL.
# ---------------------------------------------------------------------------

# (license id, detection regex over the lowercased doc head, permissive?)
# Order = precedence: the FIRST match wins, so copyleft families are
# listed before the permissive catch-alls that their boilerplate can
# partially contain.
LICENSE_RULES: tuple[tuple[str, str, bool], ...] = (
    ("AGPL-3.0", r"gnu affero general public license", False),
    ("LGPL-3.0", r"gnu lesser general public license", False),
    ("GPL-3.0", r"gnu general public license", False),
    ("MPL-2.0", r"mozilla public license", False),
    ("Apache-2.0", r"apache license,? version 2", True),
    ("BSD-3-Clause", r"redistribution and use in source and binary forms", True),
    ("MIT", r"permission is hereby granted, free of charge", True),
    ("Unlicense", r"this is free and unencumbered software", True),
)

LICENSE_HEAD_CHARS = 2000
_SPDX_RE = r"spdx-license-identifier:\s*([a-z0-9.\-+]+)"


def detect_license(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    head_chars: int = LICENSE_HEAD_CHARS,
) -> DataFrame:
    """(id, license, license_source, is_permissive): license of each
    source file. An ``SPDX-License-Identifier:`` tag anywhere in the head
    wins (source 'spdx', id normalized to the canonical casing when it is
    one of the known families, verbatim-lowercase otherwise); else the
    first :data:`LICENSE_RULES` phrase match (source 'phrase'); else
    ('NOASSERTION', 'none', false) — the conservative default a corpus
    gate wants. Only the first ``head_chars`` characters are examined
    (licenses live in file headers; this bounds regex cost per row).

    ``is_permissive`` is the train-on-me bit: true only for the
    permissive families, never for copyleft or unknown.

    Scale shape: one scan-side projection of CASE/regexp expressions over
    a bounded prefix — whole-stage codegen, zero exchanges, cost linear
    in min(doc bytes, head_chars)."""
    head = F.lower(F.substring(F.coalesce(F.col(text_col), F.lit("")), 1, head_chars))
    spdx_raw = F.regexp_extract(head, _SPDX_RE, 1)
    known = {lic.lower(): lic for lic, _, _ in LICENSE_RULES}
    spdx_norm = F.coalesce(
        *[
            F.when(spdx_raw == low, F.lit(canon))
            for low, canon in known.items()
        ],
        spdx_raw,
    )
    phrase = F.coalesce(
        *[F.when(head.rlike(pat), F.lit(lic)) for lic, pat, _ in LICENSE_RULES],
        F.lit("NOASSERTION"),
    )
    license_col = F.when(spdx_raw != "", spdx_norm).otherwise(phrase)
    source_col = (
        F.when(spdx_raw != "", F.lit("spdx"))
        .when(phrase != "NOASSERTION", F.lit("phrase"))
        .otherwise(F.lit("none"))
    )
    permissive_ids = F.array(
        *[F.lit(lic) for lic, _, perm in LICENSE_RULES if perm]
    )
    return docs.select(
        F.col(id_col),
        license_col.alias("license"),
        source_col.alias("license_source"),
        F.array_contains(permissive_ids, license_col).alias("is_permissive"),
    )


# ---------------------------------------------------------------------------
# Character-entropy quality signal: Shannon entropy (bits/char) of the
# normalized character distribution. Low entropy flags boilerplate, key
# dumps, and generated filler that the word-level signals miss. The
# alphabet is fixed ([a-z0-9 ] after normalization), so per-symbol counts
# compute as length-difference expressions — scan-side, zero exchanges,
# byte-for-byte replayable in SQL.
# ---------------------------------------------------------------------------

ENTROPY_ALPHABET = "abcdefghijklmnopqrstuvwxyz0123456789 "


def char_entropy(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, char_entropy, n_alpha_chars): Shannon entropy in bits of the
    [a-z0-9 ] character distribution of the lowercased text (characters
    outside the alphabet collapse to single spaces first, the engine-wide
    normalization). 0.0 for empty/degenerate docs. Entropy is rounded to
    4 decimals so any engine replays it bit-identically.

    Scale shape: per-symbol counts are length-difference expressions over
    ONE normalized projection — 37 codegen'd subtractions per row, no
    explode, no exchange; cost is linear in corpus bytes and the output
    is two numbers per doc."""
    norm = F.trim(
        F.regexp_replace(F.lower(F.coalesce(F.col(text_col), F.lit(""))), "[^a-z0-9]+", " ")
    )
    total = F.length(norm).cast("double")
    terms = []
    for ch in ENTROPY_ALPHABET:
        c = (total - F.length(F.replace(norm, F.lit(ch), F.lit("")))).cast(
            "double"
        )
        p = c / total
        terms.append(F.when(c > 0, -p * F.log2(p)).otherwise(F.lit(0.0)))
    ent = F.when(total > 0, sum(terms[1:], terms[0])).otherwise(F.lit(0.0))
    return docs.select(
        F.col(id_col),
        F.round(ent, 4).alias("char_entropy"),
        total.cast("long").alias("n_alpha_chars"),
    )


# ---------------------------------------------------------------------------
# StarCoder-style source-file quality rules (Li et al. 2023, "StarCoder:
# may the source be with you!" §3 — the public filtering recipe for code
# corpora; same role for code that gopher_rules plays for prose). One
# scan-side pass, zero exchanges, every signal exactly replayable in SQL.
# ---------------------------------------------------------------------------

AUTOGEN_MARKERS: tuple[str, ...] = (
    "auto-generated",
    "autogenerated",
    "automatically generated",
    "generated by",
    "do not edit",
    "do not modify",
)

AUTOGEN_HEAD_CHARS = 500


def code_rules(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_line_len: int = 1000,
    max_mean_line_len: float = 100.0,
    min_alnum_frac: float = 0.25,
    max_digit_frac: float = 0.5,
) -> DataFrame:
    """StarCoder-style code-file quality gate as ONE scan-side pass:
    every signal plus the composite ``keep`` verdict, so a pipeline can
    gate on ``keep`` or re-threshold without rescanning.

    Signals (lines = '\\n'-split with trailing whitespace trimmed per
    line — CRLF '\\r' tails AND space padding, so the length signals
    measure payload, not padding; fractions over raw character counts):
    - ``n_lines``, ``max_line_len``, ``mean_line_len`` (rounded 4) —
      minified / data-blob files have pathological line lengths;
    - ``alnum_frac`` — binary-ish / art files sink below 0.25;
    - ``digit_frac`` — numeric dumps exceed 0.5;
    - ``is_autogen`` — an :data:`AUTOGEN_MARKERS` phrase in the first
      :data:`AUTOGEN_HEAD_CHARS` chars (lowercased), the lockfile /
      protoc / bundler signature;
    - ``keep`` — within every bound and not autogenerated. Empty docs
      fail ``keep`` (mean 0 < alnum floor).

    Scale shape: the line array, the per-line max/sum aggregates, the
    length-difference fractions, and the marker scan all fold into one
    whole-stage-codegen'd projection — zero exchanges, cost linear in
    corpus bytes."""
    raw = F.coalesce(F.col(text_col), F.lit(""))
    lines = F.transform(
        F.split(raw, "\n"), lambda s: F.rtrim(F.regexp_replace(s, "\r$", ""))
    )
    n_lines = F.size(lines)
    line_lens = F.transform(lines, F.length)
    max_ll = F.coalesce(F.array_max(line_lens), F.lit(0)).cast("int")
    total_ll = F.aggregate(
        line_lens, F.lit(0).cast("long"), lambda acc, x: acc + x
    )
    mean_ll = F.when(
        n_lines > 0, F.round(total_ll.cast("double") / n_lines, 4)
    ).otherwise(F.lit(0.0))
    n_chars = F.length(raw).cast("double")
    n_alnum = (
        n_chars - F.length(F.regexp_replace(F.lower(raw), "[a-z0-9]", ""))
    )
    n_digit = n_chars - F.length(F.regexp_replace(raw, "[0-9]", ""))
    alnum_frac = F.when(n_chars > 0, F.round(n_alnum / n_chars, 4)).otherwise(
        F.lit(0.0)
    )
    digit_frac = F.when(n_chars > 0, F.round(n_digit / n_chars, 4)).otherwise(
        F.lit(0.0)
    )
    head = F.lower(F.substring(raw, 1, AUTOGEN_HEAD_CHARS))
    is_autogen = F.array_contains(
        F.array(*[head.contains(F.lit(m)) for m in AUTOGEN_MARKERS]), True
    )
    keep = (
        (max_ll <= max_line_len)
        & (mean_ll <= max_mean_line_len)
        & (alnum_frac >= min_alnum_frac)
        & (digit_frac <= max_digit_frac)
        & ~is_autogen
    )
    return docs.select(
        F.col(id_col),
        n_lines.cast("int").alias("n_lines"),
        max_ll.alias("max_line_len"),
        mean_ll.alias("mean_line_len"),
        alnum_frac.alias("alnum_frac"),
        digit_frac.alias("digit_frac"),
        is_autogen.alias("is_autogen"),
        keep.alias("keep"),
    )


# ---------------------------------------------------------------------------
# Unicode normalization — the first cleaning pass a web-scale multilingual
# corpus needs: visually-identical strings with different codepoint
# sequences (composed vs combining accents, compatibility forms) must
# hash, dedup, shingle, and tokenize identically. UAX #15 normalization
# via Python's unicodedata inside an Arrow-batched kernel (Spark has no
# built-in normalizer); the per-batch kernel is the vectorized path, not
# per-row Python in an expression.
# ---------------------------------------------------------------------------

NORMALIZE_FORMS = ("NFC", "NFD", "NFKC", "NFKD")


def normalize_text(
    docs: DataFrame,
    form: str = "NFC",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id, text_norm, changed): the ``form``-normalized text of every
    document (UAX #15; 'NFC' is the storage canonical a dedup/index
    pipeline wants — composed accents, stable hashes) plus a ``changed``
    bit so a pipeline can count/audit how much of the corpus was
    non-canonical. NULL text normalizes to '' (the engine-wide null
    convention) with ``changed`` false.

    Scale shape: one mapInPandas pass — Arrow batches in, the kernel
    calls unicodedata.normalize per value (C-implemented, linear), no
    exchange anywhere; output is scan-shaped and feeds any downstream
    operator unchanged."""
    if form not in NORMALIZE_FORMS:
        raise ValueError(f"form must be one of {NORMALIZE_FORMS}")
    import pandas as pd

    id_type = docs.schema[id_col].dataType.simpleString()
    src = docs.select(F.col(id_col), F.coalesce(F.col(text_col), F.lit("")).alias("_t"))

    def kernel(batches):
        import unicodedata

        for pdf in batches:
            norm = [unicodedata.normalize(form, t) for t in pdf["_t"]]
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "text_norm": norm,
                    "changed": [a != b for a, b in zip(norm, pdf["_t"])],
                }
            )

    return src.mapInPandas(
        kernel, f"{id_col} {id_type}, text_norm string, changed boolean"
    )


def ngram_novelty(
    docs: DataFrame,
    shingle_k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """DataFrame[doc_id, n_shingles, novelty] — per-document novelty for
    training-data curation: the fraction of a document's DISTINCT
    ``shingle_k``-token shingles whose canonical first occurrence (min
    doc_id across the corpus) is this document. 1.0 = nothing borrowed
    from earlier documents; low values flag boilerplate/recycled text
    (the doc-grain complement of the C4 line dedup and the ExactSubstr
    span remover — this one SCORES instead of rewriting). Documents with
    no shingles (shorter than ``shingle_k`` tokens) report novelty 1.0.

    Scale shape: ONE pass over the corpus — shingling is scan-side (the
    shared ``shingles_col`` HOF) and the min-doc-per-shingle runs as an
    unordered window over the hash-keyed exchange (an aggregate+join
    formulation would tokenize and hash the whole corpus twice); both
    wide exchanges move ``(xxhash64(shingle), doc_id)`` — fixed-width
    longs, never shingle text — then the per-doc fraction aggregates on
    doc_id. Hash note: grouping by the 64-bit hash instead of the
    string trades a ~n²/2⁶⁵ collision probability (negligible at any
    corpus size that fits in storage) for a fixed-8-byte shuffle key —
    same trade the C4 line dedup makes with md5.
    """
    from pyspark.sql import Window

    sh = docs.select(
        F.col(id_col),
        F.explode(
            F.array_distinct(shingles_col(tokens_col(text_col), k=shingle_k))
        ).alias("shingle"),
    ).select(id_col, F.xxhash64("shingle").alias("h"))
    first = sh.withColumn(
        "first_doc", F.min(id_col).over(Window.partitionBy("h"))
    )
    frac = first.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_shingles"),
        F.sum(
            (F.col("first_doc") == F.col(id_col)).cast("long")
        ).alias("n_novel"),
    )
    return (
        docs.select(id_col)
        .join(frac, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_shingles", F.lit(0)).alias("n_shingles"),
            F.coalesce(
                F.round(F.col("n_novel") / F.col("n_shingles"), 4), F.lit(1.0)
            ).alias("novelty"),
        )
    )
