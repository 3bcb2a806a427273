"""spark-submit entry: the full training-data preparation pipeline.

    spark-submit --py-files google_spark.zip jobs/prepare_corpus.py \
        --input /data/raw_docs.parquet --out /data/prepared \
        [--near-dup-threshold 0.85] [--min-quality 0.3] [--langs en]

Stages (each a first-class operator, composed declaratively so Catalyst
optimizes across them; anti-joins carry only doc_id — fixed-width keys at
any scale):

  0. PII scrub          — email/key/secret/IPv4 -> typed sentinels
                          (--scrub-pii; runs FIRST so sentinel-normalized
                          near-copies dedup together)
  1. exact dedup        — sha256 hash-aggregate keep-smallest-id
  1b. novelty gate      — drop docs whose 3-gram novelty (fraction of
                          distinct shingles first seen in that doc) falls
                          below --min-novelty (recycled-text filter; runs
                          before near-dup so borrowed docs never cost a
                          MinHash)
  2. near dedup         — MinHash+LSH candidates, exact-Jaccard verified;
                          drop the larger id of each verified pair, or one
                          canonical per connected component (--cluster-dedup)
  2b. span filter       — drop docs whose duplicated-span token fraction
                          (ExactSubstr-style W-token windows repeated
                          corpus-wide, non-canonical occurrences) exceeds
                          --max-dup-span-frac (window via --span-window)
  3. language filter    — n-gram heuristic language_id
  4. quality filter     — length/punct/stopword composite score
  5. repetition filter  — Gopher-style dup-line / top-bigram / char-run
                          gates (opt-in via --max-dup-line-frac etc.)
  6. LM-quality floor   — self-corpus unigram mean logprob >= --min-logprob
  6b. decontamination   — drop docs sharing any 3-shingle with the eval
                          set (--decontaminate EVAL.parquet), applied
                          before the mix so quotas fill with clean docs
  7. data mix           — exact per-language quotas (--mix en=1000 de=500),
                          deterministic md5-order stratified sample
  8. token accounting   — per-doc token counts + corpus totals
                          (+ pack_id sequence packing with --pack-budget)
  9. index build        — the surviving corpus, published atomically

Writes ``{out}/corpus.parquet`` (surviving docs + lang/quality/token
columns), ``{out}/index`` (the inverted index), and prints one JSON line
of per-stage row accounting.
"""

from __future__ import annotations

import argparse
import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def prepare_corpus(
    spark,
    docs,
    id_col: str = "doc_id",
    text_col: str = "text",
    near_dup_threshold: float = 0.85,
    cluster_dedup: bool = False,
    max_dup_span_frac: float | None = None,
    span_window: int = 20,
    min_quality: float = 0.0,
    langs: list[str] | None = None,
    max_dup_line_frac: float | None = None,
    max_top_bigram_frac: float | None = None,
    drop_char_runs: bool = False,
    min_logprob: float | None = None,
    mix: dict[str, int] | None = None,
    scrub: bool = False,
    decontaminate=None,
    pack_budget: int | None = None,
    bpe_merges: int | None = None,
    bpe_model: str | None = None,
    permissive_only: bool = False,
    allow_licenses: list[str] | None = None,
    code_gate: bool = False,
    min_entropy: float | None = None,
    min_novelty: float | None = None,
):
    """Run stages 0-8 (everything except the index build); returns
    (prepared DataFrame, accounting dict). Importable so tests drive it
    without spark-submit. ``decontaminate`` is a DataFrame of eval docs
    (same id/text columns); ``pack_budget`` adds a ``pack_id`` column
    (per-language sequence packing) without changing row counts.
    ``bpe_merges`` switches token accounting (and therefore packing) from
    the regex estimate to a BPE tokenizer TRAINED on the surviving docs
    (functions/bpe.py) — the budget line a real pretraining mix uses;
    the learned rules are returned in the accounting dict.
    ``bpe_model`` makes those runs reproducible across sessions: an
    existing model file at that path is LOADED instead of retraining
    (load_bpe pins n_merges — a file trained with a different
    --bpe-merges raises StaleBpeModelError rather than silently
    mis-budgeting); a missing file is written after training
    (save_bpe, atomic)."""
    from pyspark.sql import functions as F

    from google_spark.operators.dedup import exact_dedup, minhash_near_dups
    from google_spark.operators.text_analysis import (
        language_id,
        quality_scores,
        token_count,
    )

    # provenance columns this job ADDS — drop any that already exist on
    # the input (e.g. re-running on a previously prepared corpus.parquet),
    # otherwise the metric joins below produce duplicate column names and
    # every later F.col reference dies with AMBIGUOUS_REFERENCE; the
    # re-run recomputes them against the current corpus state
    provenance = [
        "lang_pred", "lang_score", "dup_line_frac", "top_bigram_frac",
        "has_char_run", "mean_logprob", "n_tokens", "pack_id",
        "license", "license_source", "is_permissive",
    ]
    stale = [c for c in docs.columns if c in provenance or c.startswith("q_")]
    if stale:
        docs = docs.drop(*stale)

    acct = {"input": docs.count()}

    def gate(kept, name: str):
        """Cut ``kept``'s lineage and count it into ``acct[name]``. Each
        gate joins docs with an operator computed over docs, so without a
        cut the plan doubles at every stage (and every later count replays
        the whole prefix). localCheckpoint keeps the rows on the executors;
        the count materializes them."""
        kept = kept.localCheckpoint(eager=False)
        acct[name] = kept.count()
        return kept

    if scrub:
        from google_spark.operators.text_analysis import scrub_pii

        scrubbed = scrub_pii(docs, id_col=id_col, text_col=text_col)
        hit = (
            (F.col("n_email") > 0)
            | (F.col("n_aws_key") > 0)
            | (F.col("n_hex_secret") > 0)
            | (F.col("n_ipv4") > 0)
        ).cast("long")
        acct["docs_with_pii"] = int(
            scrubbed.agg(F.sum(hit).alias("n")).collect()[0]["n"] or 0
        )
        docs = docs.drop(text_col).join(
            scrubbed.select(id_col, F.col("text_clean").alias(text_col)),
            id_col,
        )

    if permissive_only or allow_licenses:
        # the legal gate runs FIRST (cheapest scan, hardest requirement):
        # a file the pipeline may not train on should never cost a MinHash
        from google_spark.operators.text_analysis import detect_license

        lic = detect_license(docs, id_col=id_col, text_col=text_col)
        if allow_licenses:
            lic = lic.filter(F.col("license").isin(list(allow_licenses)))
        else:
            lic = lic.filter(F.col("is_permissive"))
        # carry the license provenance onto the survivors
        docs = gate(docs.join(lic, id_col), "after_license_filter")

    if code_gate:
        from google_spark.operators.text_analysis import code_rules

        keep_code = code_rules(docs, id_col=id_col, text_col=text_col).filter(
            "keep"
        ).select(id_col)
        docs = gate(
            docs.join(keep_code, id_col, "left_semi"), "after_code_gate"
        )

    if min_entropy is not None:
        from google_spark.operators.text_analysis import char_entropy

        keep_ent = char_entropy(docs, id_col=id_col, text_col=text_col).filter(
            F.col("char_entropy") >= float(min_entropy)
        ).select(id_col)
        docs = gate(
            docs.join(keep_ent, id_col, "left_semi"), "after_entropy_filter"
        )

    keep_exact = exact_dedup(docs, id_col=id_col, text_col=text_col)
    docs = gate(
        docs.join(keep_exact, id_col, "left_semi"), "after_exact_dedup"
    )

    if min_novelty is not None:
        # corpus-relative recycled-text gate: runs AFTER exact dedup (so
        # byte-identical copies don't zero each other out first) and
        # BEFORE the near-dup stage (a doc that is mostly borrowed
        # shingles should not cost a MinHash). Shingle-less short docs
        # score 1.0 and always survive.
        from google_spark.operators.text_analysis import ngram_novelty

        keep_nov = ngram_novelty(docs, id_col=id_col, text_col=text_col).filter(
            F.col("novelty") >= float(min_novelty)
        ).select(id_col)
        docs = gate(
            docs.join(keep_nov, id_col, "left_semi"), "after_novelty_filter"
        )

    if cluster_dedup:
        # transitive-closure-correct: one canonical doc per connected
        # component of the near-dup graph (components.cluster_dedup)
        from google_spark.operators.components import cluster_dedup as _cd

        docs = _cd(
            docs, id_col=id_col, text_col=text_col,
            threshold=near_dup_threshold,
        )
    else:
        pairs = minhash_near_dups(
            docs, id_col=id_col, text_col=text_col,
            threshold=near_dup_threshold,
        )
        losers = pairs.select(F.col("b").alias(id_col)).distinct()
        docs = docs.join(losers, id_col, "left_anti")
    docs = gate(docs, "after_near_dedup")

    if max_dup_span_frac is not None:
        # ExactSubstr-style gate: a doc dominated by token runs that
        # repeat corpus-wide (boilerplate, generated preambles) is more
        # duplicate than document — drop it rather than rewrite it (the
        # rewrite path, dedup.remove_duplicate_spans, emits the token
        # stream, which would be lossy for code). Empty docs pass.
        from google_spark.operators.dedup import remove_duplicate_spans

        spans = remove_duplicate_spans(
            docs, id_col=id_col, text_col=text_col, window=span_window
        )
        keep_ids = spans.filter(
            (F.col("n_kept") + F.col("n_removed") == 0)
            | (
                F.col("n_removed")
                / (F.col("n_kept") + F.col("n_removed"))
                <= F.lit(float(max_dup_span_frac))
            )
        ).select(id_col)
        docs = gate(
            docs.join(keep_ids, id_col, "left_semi"), "after_span_filter"
        )

    # metric operators emit (doc_id, metrics...) projections; join them on
    # so the prepared corpus carries its provenance columns
    docs = docs.join(language_id(docs, id_col=id_col, text_col=text_col), id_col)
    if langs:
        docs = docs.filter(F.col("lang_pred").isin(langs))
    docs = gate(docs, "after_lang_filter")

    qual = quality_scores(docs, id_col=id_col, text_col=text_col)
    # q_ prefix: the raw corpus may already carry columns like n_chars
    qual = qual.select(
        id_col, *[F.col(c).alias(f"q_{c}") for c in qual.columns if c != id_col]
    )
    docs = docs.join(qual, id_col)
    # alpha_ratio is the pipeline's quality gate (the cheap pretraining
    # filter: mostly-symbol/binary-ish docs score low)
    docs = gate(
        docs.filter(F.col("q_alpha_ratio") >= min_quality),
        "after_quality_filter",
    )

    if (
        max_dup_line_frac is not None
        or max_top_bigram_frac is not None
        or drop_char_runs
    ):
        from google_spark.operators.text_analysis import repetition_scores

        rep = repetition_scores(docs, id_col=id_col, text_col=text_col)
        docs = docs.join(rep, id_col)
        if max_dup_line_frac is not None:
            docs = docs.filter(F.col("dup_line_frac") <= max_dup_line_frac)
        if max_top_bigram_frac is not None:
            docs = docs.filter(F.col("top_bigram_frac") <= max_top_bigram_frac)
        if drop_char_runs:
            docs = docs.filter(~F.col("has_char_run"))
        docs = gate(docs, "after_repetition_filter")

    if min_logprob is not None:
        from google_spark.operators.text_analysis import unigram_logprob

        # scored against the surviving corpus's own distribution — the
        # filter adapts to the domain instead of needing a shipped model.
        # Zero-token docs carry the operator's 0.0 sentinel (the BEST
        # possible score), so they must be dropped explicitly or the
        # floor would keep exactly the docs it exists to remove
        lp = unigram_logprob(docs, id_col=id_col, text_col=text_col).select(
            id_col,
            F.col("mean_logprob"),
            F.col("n_tokens").alias("_lm_n_tokens"),
        )
        docs = gate(
            docs.join(lp, id_col)
            .filter(
                (F.col("mean_logprob") >= min_logprob)
                & (F.col("_lm_n_tokens") > 0)
            )
            .drop("_lm_n_tokens"),
            "after_logprob_filter",
        )

    if decontaminate is not None:
        from google_spark.operators.dedup import contamination_flags

        flags = contamination_flags(
            docs, decontaminate, id_col=id_col, text_col=text_col,
            eval_id_col=id_col, eval_text_col=text_col,
        )
        docs = gate(
            docs.join(
                flags.filter(~F.col("contaminated")).select(id_col),
                id_col,
                "left_semi",
            ),
            "after_decontamination",
        )

    if mix:
        from google_spark.operators.sampling import sample_stratified

        docs = gate(
            sample_stratified(docs, "lang_pred", mix, id_col=id_col),
            "after_mix",
        )

    # all gates are applied; the token accounting, the optional packing
    # window, and the caller's write reuse the cut below instead of
    # replaying the filter stack
    if bpe_merges:
        # train on the SURVIVORS (post-gates), so the learned subwords
        # reflect what the mix will actually feed the model
        import os

        from google_spark.functions.bpe import (
            bpe_token_count,
            load_bpe,
            save_bpe,
            train_bpe,
        )

        if bpe_model and os.path.exists(bpe_model):
            merges, _meta = load_bpe(
                bpe_model, expect={"n_merges": int(bpe_merges)}
            )
            acct["bpe_model"] = f"loaded:{bpe_model}"
        else:
            merges = train_bpe(docs, text_col=text_col, n_merges=bpe_merges)
            if bpe_model:
                save_bpe(
                    bpe_model, merges,
                    meta={
                        "n_merges": int(bpe_merges),
                        "text_col": text_col,
                        # the POST-gate survivor count — the corpus the
                        # model was actually trained on, which is what a
                        # later load_bpe(expect=...) pin must match —
                        # not the raw input size
                        "trained_on_docs": int(docs.count()),
                    },
                )
                acct["bpe_model"] = f"saved:{bpe_model}"
        acct["bpe_n_merges"] = len(merges)
        acct["bpe_merges"] = ["".join(m) for m in merges[:50]]
        counts = bpe_token_count(
            docs, merges, id_col=id_col, text_col=text_col
        )
        docs = docs.join(counts, id_col).localCheckpoint(eager=False)
    else:
        docs = docs.join(
            token_count(docs, id_col=id_col, text_col=text_col), id_col
        ).localCheckpoint(eager=False)
    total = docs.agg(F.sum("n_tokens").alias("t")).collect()[0]["t"] or 0
    acct["total_tokens"] = int(total)

    if pack_budget:
        from google_spark.operators.sampling import pack_sequences

        packs = pack_sequences(
            docs, budget=pack_budget, by="lang_pred", id_col=id_col,
            n_tokens_col="n_tokens",
        ).select(id_col, "pack_id")
        docs = docs.join(packs, id_col)
        acct["n_packs"] = int(
            docs.agg(
                F.count_distinct("lang_pred", "pack_id").alias("n")
            ).collect()[0]["n"]
        )
    return docs, acct


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--id-col", default="doc_id")
    ap.add_argument("--text-col", default="text")
    ap.add_argument("--near-dup-threshold", type=float, default=0.85)
    ap.add_argument(
        "--cluster-dedup",
        action="store_true",
        help="resolve near-dups per connected component (one canonical "
        "doc per cluster) instead of per verified pair",
    )
    ap.add_argument("--min-quality", type=float, default=0.0)
    ap.add_argument("--langs", action="append", default=None)
    ap.add_argument("--max-dup-line-frac", type=float, default=None)
    ap.add_argument("--max-top-bigram-frac", type=float, default=None)
    ap.add_argument("--drop-char-runs", action="store_true")
    ap.add_argument("--min-logprob", type=float, default=None)
    ap.add_argument(
        "--mix",
        action="append",
        default=None,
        metavar="LANG=N",
        help="per-language quota, e.g. --mix en=1000 --mix de=500; "
        "unlisted languages are dropped",
    )
    ap.add_argument("--max-dup-span-frac", type=float, default=None)
    ap.add_argument("--span-window", type=int, default=20)
    ap.add_argument(
        "--scrub-pii",
        action="store_true",
        help="replace emails/keys/secrets/IPv4 with typed sentinels "
        "before any other stage",
    )
    ap.add_argument(
        "--decontaminate",
        default=None,
        metavar="EVAL_PATH",
        help="drop docs sharing any 3-shingle with this eval corpus "
        "(same id/text columns)",
    )
    ap.add_argument(
        "--pack-budget",
        type=int,
        default=None,
        help="add a pack_id column: per-language sequence packing at this "
        "token budget",
    )
    ap.add_argument(
        "--bpe-merges",
        type=int,
        default=None,
        help="train a BPE tokenizer on the survivors and use its subword "
        "counts for token accounting and packing",
    )
    ap.add_argument(
        "--bpe-model",
        default=None,
        metavar="PATH",
        help="persisted BPE model json: loaded if present (reproducible "
        "re-runs; mismatched --bpe-merges is an error), written after "
        "training otherwise",
    )
    ap.add_argument(
        "--permissive-only",
        action="store_true",
        help="keep only files whose detected license is permissive "
        "(SPDX tag wins, else phrase heuristics); runs before dedup",
    )
    ap.add_argument(
        "--allow-license",
        action="append",
        default=None,
        metavar="ID",
        help="keep only these license ids (repeatable; overrides "
        "--permissive-only's family set)",
    )
    ap.add_argument(
        "--code-gate",
        action="store_true",
        help="apply the StarCoder-style code quality rules "
        "(line lengths, alnum/digit fractions, autogen markers)",
    )
    ap.add_argument(
        "--min-entropy",
        type=float,
        default=None,
        help="drop docs whose character entropy (bits/char) is below "
        "this floor (boilerplate / generated filler)",
    )
    ap.add_argument(
        "--min-novelty",
        type=float,
        default=None,
        help="drop docs whose 3-gram novelty (fraction of distinct "
        "shingles first seen in that doc) is below this floor — the "
        "corpus-relative recycled-text gate",
    )
    ap.add_argument("--cores", default=None)
    args = ap.parse_args()
    mix = None
    if args.mix:
        mix = {}
        for spec in args.mix:
            lang, _, n = spec.partition("=")
            if not n.isdigit():
                ap.error(f"--mix expects LANG=N, got {spec!r}")
            mix[lang] = int(n)

    from google_spark.operators.index_build import build_index, write_index
    from google_spark.session import get_spark
    from google_spark.sources.formats import read_corpus

    spark = get_spark(app="prepare_corpus", cores=args.cores)
    docs = read_corpus(spark, args.input)
    prepared, acct = prepare_corpus(
        spark,
        docs,
        id_col=args.id_col,
        text_col=args.text_col,
        near_dup_threshold=args.near_dup_threshold,
        cluster_dedup=args.cluster_dedup,
        min_quality=args.min_quality,
        langs=args.langs,
        max_dup_line_frac=args.max_dup_line_frac,
        max_top_bigram_frac=args.max_top_bigram_frac,
        drop_char_runs=args.drop_char_runs,
        min_logprob=args.min_logprob,
        mix=mix,
        scrub=args.scrub_pii,
        max_dup_span_frac=args.max_dup_span_frac,
        span_window=args.span_window,
        decontaminate=(
            read_corpus(spark, args.decontaminate)
            if args.decontaminate
            else None
        ),
        pack_budget=args.pack_budget,
        bpe_merges=args.bpe_merges,
        bpe_model=args.bpe_model,
        permissive_only=args.permissive_only,
        allow_licenses=args.allow_license,
        code_gate=args.code_gate,
        min_entropy=args.min_entropy,
        min_novelty=args.min_novelty,
    )
    prepared.write.mode("overwrite").parquet(f"{args.out}/corpus.parquet")
    prepared_back = spark.read.parquet(f"{args.out}/corpus.parquet")
    index = build_index(
        spark, prepared_back, id_col=args.id_col, text_col=args.text_col
    )
    write_index(index, f"{args.out}/index")
    acct["indexed_docs"] = prepared_back.count()
    print(json.dumps(acct))
    spark.stop()


if __name__ == "__main__":
    main()
