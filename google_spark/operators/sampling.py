"""Deterministic sampling for training-data mixing.

The reference has no sampling surface (Flame declares ``sample`` but never
implements it — see SURVEY §2.1); these are the operators a pretraining
pipeline needs to assemble a data mix: exact per-stratum quotas
(n docs per language/source/quality-bucket) that are reproducible across
engines and cluster sizes.

Determinism comes from ordering within each stratum by ``md5(id)`` — a
stable pseudo-random permutation any engine can replay, unlike
``df.sample`` whose output depends on partitioning (checked by
tests/test_sampling.py::test_exact_quota_per_stratum and
tests/test_sampling.py::test_sample_is_partitioning_invariant). Spark
rewrites the rank filter into WindowGroupLimit (rank pushdown): every
task keeps at most n rows per stratum BEFORE the stratum exchange, so a
hot stratum (90% English at 100 TB) ships n * n_tasks rows, never its
full population.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def sample_stratified(
    df: DataFrame,
    strata_col: str,
    n_per_stratum: int | dict[str, int],
    id_col: str = "doc_id",
) -> DataFrame:
    """Keep an exact, deterministic sample of ``n`` rows per stratum.

    ``n_per_stratum`` is either one quota for every stratum or a
    ``{stratum_value: quota}`` dict (strata absent from the dict are
    dropped — that's the data-mixing contract: unlisted sources don't
    enter the mix). Output columns = input columns; row order within the
    result is unspecified (downstream writers repartition anyway).
    """
    order = [F.md5(F.col(id_col).cast("string")), F.col(id_col)]
    w = Window.partitionBy(strata_col).orderBy(*order)
    ranked = df.withColumn("_rk", F.row_number().over(w))
    if isinstance(n_per_stratum, dict):
        if not n_per_stratum:
            return df.limit(0)
        # the rank-pushdown rewrite (WindowGroupLimit) only fires on a
        # FOLDABLE limit, so filter by the max quota first — each task
        # then keeps at most max(quota) rows per stratum before the
        # exchange — and apply the exact per-stratum quota after
        ranked = ranked.filter(
            F.col("_rk") <= int(max(n_per_stratum.values()))
        )
        # NULL is a legal stratum (rows with no language tag are still a
        # group a mix may quota): sort None-last so mixed-type keys don't
        # TypeError, and compare null-safely so a None key actually
        # matches NULL rows (plain == is never true against NULL)
        quota = F.lit(None).cast("int")
        items = sorted(
            n_per_stratum.items(),
            key=lambda kv: (kv[0] is None, repr(kv[0])),
        )
        for value, n in items:
            quota = F.when(
                F.col(strata_col).eqNullSafe(F.lit(value)), F.lit(int(n))
            ).otherwise(quota)
        keep = F.col("_rk") <= quota  # null quota -> false -> dropped
    else:
        keep = F.col("_rk") <= int(n_per_stratum)
    return ranked.filter(keep).drop("_rk")


def mix_by_temperature(
    df: DataFrame,
    group_col: str,
    n_total: int,
    alpha: float = 0.5,
    id_col: str = "doc_id",
) -> DataFrame:
    """Temperature-flattened corpus mix (the multilingual-pretraining
    sampling rule, public: Conneau & Lample 2019 / XLM-R): group ``g``
    with population share ``p_g`` gets quota
    ``floor(n_total * p_g^alpha / Σ p^alpha)`` — ``alpha < 1`` upweights
    small groups (languages, sources), ``alpha = 1`` is proportional,
    ``alpha = 0`` is uniform. Quotas cap at the group's population
    (without replacement — upsampling by repetition is a writer concern),
    so the result can undershoot ``n_total`` when a flattened quota
    exceeds a tiny group. Rows inside each group are the deterministic
    md5-ordered sample.

    Scale shape: one tiny groupBy count (collected — one row per group),
    quotas computed driver-side, then :func:`sample_stratified`'s
    WindowGroupLimit path — a hot group ships at most quota rows per
    task, never its population."""
    if n_total < 0:
        raise ValueError("n_total must be >= 0")
    counts = {
        r["g"]: int(r["c"])
        for r in df.groupBy(F.col(group_col).alias("g"))
        .agg(F.count("*").alias("c"))
        .collect()
    }
    n = sum(counts.values())
    if not n or not n_total:
        return df.limit(0)
    weights = {g: (c / n) ** float(alpha) for g, c in counts.items()}
    sw = sum(weights.values())
    # the 1e-9 nudge keeps floor() stable when n_total * w / sw lands a
    # rounding ulp under an integer (the oracle applies the same nudge)
    quotas = {
        g: min(counts[g], int(n_total * w / sw + 1e-9))
        for g, w in weights.items()
    }
    return sample_stratified(df, group_col, quotas, id_col=id_col)


def mix_with_epochs(
    df: DataFrame,
    group_col: str,
    n_total: int,
    weights: dict[str, float] | None = None,
    default_weight: float = 1.0,
    max_epochs: int = 4,
    id_col: str = "doc_id",
    epoch_col: str = "epoch",
) -> DataFrame:
    """Source-weighted corpus mix WITH upsampling by repetition — the
    half :func:`mix_by_temperature` deliberately leaves to the writer
    (its docstring: "upsampling by repetition is a writer concern").
    This is the Pile/Llama-style recipe (Gao et al. 2020 §2.1 publishes
    per-source "epochs"; Touvron et al. 2023 table 1 the same): group
    ``g`` present in the data gets quota
    ``floor(n_total * w_g / Σ_present w)`` rows, and when the quota
    exceeds the group's population its rows REPEAT — row ``i`` of the
    group's deterministic md5 order carries ``epoch`` = 0, 1, ... for
    each repetition, capped at ``max_epochs`` passes over the group (the
    degradation guard every published mix applies to small sources).
    Weights cover present groups only (an absent group never dilutes the
    denominator); groups missing from ``weights`` get ``default_weight``.

    Output columns = input columns + ``epoch_col`` (int, 0-based pass
    index); a row selected r times appears as r rows with epochs 0..r-1,
    so downstream writers can shard-shuffle repetitions apart.

    Scale shape: fully distributed — ONE exchange on the group key
    serves both the per-group ``row_number`` and the per-group
    population ``count(*)`` (same window partitioning), quotas fold into
    a scan-side CASE, and repetition is a per-row
    ``explode(sequence(...))`` whose length is quota/population — never
    a driver loop, never a collect. A hot group ships its rows once;
    the epochs multiply rows only AFTER the exchange."""
    if n_total < 0:
        raise ValueError("n_total must be >= 0")
    if max_epochs < 1:
        raise ValueError("max_epochs must be >= 1")
    weights = weights or {}
    cols = df.columns
    order = [F.md5(F.col(id_col).cast("string")), F.col(id_col)]
    w = Window.partitionBy(group_col).orderBy(*order)
    wp = Window.partitionBy(group_col)
    # Σ_present w needs only the distinct group VALUES — one tiny
    # aggregate collected driver-side (one row per group, same shape as
    # mix_by_temperature's counts collect); per-group quotas then fold
    # into a scan-side CASE below
    present = [
        r["_g"]
        for r in df.select(F.col(group_col).alias("_g")).distinct().collect()
    ]
    wmap = {g: float(weights.get(g, default_weight)) for g in present}
    sw = sum(wmap.values())
    if sw <= 0.0 or not n_total or not present:
        out = df.limit(0).withColumn(epoch_col, F.lit(0).cast("int"))
        return out.select(*cols, epoch_col)
    ranked = df.select(
        *cols,
        (F.row_number().over(w) - 1).alias("_rn"),
        F.count(F.lit(1)).over(wp).alias("_pop"),
    )
    # the 1e-9 nudge mirrors mix_by_temperature (floor stability when the
    # exact quota lands an ulp under an integer; the oracle applies it too)
    base_quota = F.lit(None).cast("bigint")
    for g in sorted(wmap, key=repr):
        base_quota = F.when(
            F.col(group_col).eqNullSafe(F.lit(g)),
            F.lit(int(n_total * wmap[g] / sw + 1e-9)),
        ).otherwise(base_quota)
    quota = F.least(base_quota, F.col("_pop") * F.lit(int(max_epochs)))
    rem = quota % F.col("_pop")
    # (quota - rem) is an exact multiple of _pop, so this double division
    # is exact for any value below 2^53 (plain quota/_pop truncation
    # would round first at extreme magnitudes)
    full = ((quota - rem) / F.col("_pop")).cast("bigint")
    n_rep = full + F.when(F.col("_rn") < rem, F.lit(1)).otherwise(F.lit(0))
    # sequence(0, -1) DESCENDS in Spark — guard the zero-repetition case
    epochs = F.when(
        n_rep > 0, F.sequence(F.lit(0), (n_rep - 1).cast("int"))
    ).otherwise(F.array().cast("array<int>"))
    return ranked.select(
        *cols, F.explode(epochs).alias(epoch_col)
    )


def quality_bins(
    df: DataFrame,
    score_col: str,
    n_bins: int = 10,
    bin_col: str = "bin",
) -> DataFrame:
    """Assign each row a quality bin 1..n_bins by exact percentile
    thresholds of ``score_col`` (bin 1 = lowest scores). The standard
    prelude to quality-aware data mixing: bin, then sample_stratified
    over the bin column.

    NOT ntile(): a global ntile window sorts the whole corpus into ONE
    partition. Instead the n_bins-1 thresholds come from Spark's exact
    distributed ``percentile`` aggregate (one pass, map-side partial
    digests), are collected as a single tiny row, and binning is a
    scan-side when-chain — no sort, no shuffle beyond the aggregate.
    Rows with NULL scores get NULL bins. Ties at a threshold all fall in
    the lower bin (<= comparisons), so equal scores always share a bin.
    """
    if n_bins < 2:
        # single bin — but NULL scores still get NULL bins, same as the
        # main path (they must stay distinguishable from scored rows)
        return df.withColumn(
            bin_col,
            F.when(F.col(score_col).isNull(), F.lit(None).cast("int"))
            .otherwise(F.lit(1))
            .cast("int"),
        )
    qs = [i / n_bins for i in range(1, n_bins)]
    row = df.agg(
        F.percentile(F.col(score_col), F.array(*[F.lit(q) for q in qs])).alias(
            "t"
        )
    ).collect()[0]["t"]
    if row is None:  # empty input or all-NULL scores
        return df.withColumn(bin_col, F.lit(None).cast("int"))
    expr = F.lit(n_bins)
    for b in range(n_bins - 1, 0, -1):
        expr = F.when(
            F.col(score_col) <= F.lit(float(row[b - 1])), F.lit(b)
        ).otherwise(expr)
    expr = F.when(F.col(score_col).isNull(), F.lit(None).cast("int")).otherwise(
        expr
    )
    return df.withColumn(bin_col, expr.cast("int"))


def pack_sequences(
    df: DataFrame,
    budget: int,
    by: str | None = "lang",
    id_col: str = "doc_id",
    n_tokens_col: str | None = None,
    text_col: str = "text",
) -> DataFrame:
    """Assign each document to a fixed-token-budget training pack:
    concatenate the stream (ordered by ``id_col`` within each ``by``
    group) and cut every ``budget`` tokens — a doc belongs to the pack
    where it STARTS. Returns (id, by?, n_tokens, pack_id).

    This is the deterministic sequence-packing contract an LLM
    pretraining pipeline needs (fill 4k/8k-token contexts from documents):
    ``pack_id = floor(tokens_before_me / budget)`` over a stable order, so
    any engine replays the identical assignment (checked by
    tests/test_pipeline.py::test_pack_sequences_boundaries_and_determinism).
    Token counts use the engine-wide token contract unless the caller
    passes a precomputed ``n_tokens_col``.

    Scale shape: ONE window aggregate per ``by`` group (running sum over
    the group exchange) — groups pack in parallel, so partition the stream
    by language/source/shard as a real pipeline does; ``by=None`` is a
    single global running sum (fine for bounded streams, a deliberate
    global order otherwise). No doc is split: a doc straddling a boundary
    stays in the pack it starts in, matching packing-with-document-
    boundaries (the common no-cross-document-attention setup)."""
    from google_spark.operators.dedup import tokens_col

    nt = (
        F.col(n_tokens_col)
        if n_tokens_col
        else F.size(tokens_col(text_col))
    )
    part = [by] if by else []
    w = (
        Window.partitionBy(*part)
        .orderBy(F.col(id_col).asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum_before = F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    cols = [F.col(id_col)] + ([F.col(by)] if by else [])
    return (
        df.select(*cols, nt.cast("long").alias("n_tokens"))
        .select(
            *[c for c in ([id_col] + ([by] if by else []))],
            "n_tokens",
            F.floor(cum_before / budget).cast("long").alias("pack_id"),
        )
    )


def pack_corpus(
    df: DataFrame,
    budget: int,
    by: str | None = "lang",
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n\n",
) -> DataFrame:
    """Materialize the packs :func:`pack_sequences` assigns: one row per
    (group, pack_id) with the member documents concatenated in ``id_col``
    order (``sep``-joined), plus doc/token counts — the
    ready-to-tokenize training-shard table. Deterministic by construction
    (same order contract as pack_sequences), so any engine replays the
    identical pack text byte-for-byte.

    Plan shape: the pack assignment's window, then ONE aggregation keyed
    (group, pack_id). Each pack's text is ~``budget`` tokens by
    definition, so group state is bounded by the budget — pack rows can't
    blow up an executor no matter how large the corpus, and packs build in
    parallel across groups and pack ids."""
    assigned = pack_sequences(
        df, budget=budget, by=by, id_col=id_col, text_col=text_col
    ).join(df.select(id_col, text_col), id_col)
    keys = ([by] if by else []) + ["pack_id"]
    # sort_array over (doc_id, text) structs pins member order inside the
    # aggregated array regardless of partitioning
    return (
        assigned.groupBy(*keys)
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
            F.concat_ws(
                sep,
                F.transform(
                    F.sort_array(
                        F.collect_list(F.struct(F.col(id_col), F.col(text_col)))
                    ),
                    lambda s: s[text_col],
                ),
            ).alias("text"),
        )
    )


# ---------------------------------------------------------------------------
# DSIR — Data Selection via Importance Resampling (Xie et al. 2023, public:
# arXiv:2302.03169). Select raw-corpus documents whose hashed n-gram
# distribution looks like a small TARGET corpus: fit bag-of-hashed-ngram
# multinomials over the target and the raw pool, score every raw doc with
# its log importance weight  sum_b c_d[b] * (ln p_target[b] - ln p_raw[b]),
# then Gumbel-top-k resample (top-k of weight + Gumbel noise == sampling
# without replacement proportionally to the softmax of the weights).
# ---------------------------------------------------------------------------

DSIR_N_BUCKETS = 4096


def _dsir_bucket(gram: Column) -> Column:
    # 48-bit md5 prefix, the engine-wide portable hash (dedup.py uses the
    # same construction; any engine with md5 replays it exactly, and
    # tests/test_sampling.py::test_dsir_resample_deterministic_and_biased
    # checks the resample it drives is deterministic)
    return F.conv(F.substring(F.md5(gram), 1, 12), 16, 10).cast("long")


def _dsir_doc_buckets(
    docs: DataFrame, id_col: str, text_col: str, n_buckets: int
) -> DataFrame:
    """(id, bucket, c): hashed uni+bigram counts per document — the
    feature extraction is scan-side (tokenize + shingle HOFs inside the
    projection), so the only exchange is the (id, bucket) aggregate with
    map-side partial combine."""
    from google_spark.operators.dedup import shingles_col, tokens_col

    toks = tokens_col(text_col)
    grams = F.concat(toks, shingles_col(toks, 2))
    return (
        docs.select(F.col(id_col), F.explode(grams).alias("_g"))
        .select(id_col, (_dsir_bucket(F.col("_g")) % n_buckets).alias("bucket"))
        .groupBy(id_col, "bucket")
        .agg(F.count(F.lit(1)).alias("c"))
    )


def dsir_weights(
    docs: DataFrame,
    target: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = DSIR_N_BUCKETS,
    smoothing: float = 1.0,
) -> DataFrame:
    """(id, dsir_logweight): per-document log importance weight of ``docs``
    (the raw pool) against ``target`` (the quality seed corpus, e.g.
    curated docs) under add-``smoothing`` hashed-n-gram multinomials.
    Weight 0.0 for docs with no tokens (no evidence either way).

    Scale shape: (id, bucket) aggregates with partial combine; the
    bucket log-ratio table is at most ``n_buckets`` rows — broadcast
    into the per-doc scoring join no matter how large the corpus — and
    the final per-doc sum aggregates fixed-width rows. The raw pool is
    scanned TWICE in the final plan (once feeding the ratio table, once
    for scoring — Catalyst does not reuse the aggregate across the
    broadcast boundary); a caller looping over many targets should
    persist the pool (or materialize `_dsir_doc_buckets` once) to pay
    the n-gram explode a single time. Nothing collects to the driver."""
    raw_c = _dsir_doc_buckets(docs, id_col, text_col, n_buckets)
    tgt_c = _dsir_doc_buckets(target, id_col, text_col, n_buckets)
    raw_b = raw_c.groupBy("bucket").agg(F.sum("c").alias("rc"))
    tgt_b = tgt_c.groupBy("bucket").agg(F.sum("c").alias("tc"))
    lam = float(smoothing)
    # the corpus totals ride as a broadcast 1-row cross join, NOT a
    # driver collect: an eager .first() here would run the full n-gram
    # aggregation at plan-BUILD time (explain included) and
    # then again in the returned plan, doubling the dominant stage
    totals = (
        raw_b.agg(F.coalesce(F.sum("rc"), F.lit(0)).cast("double").alias("_rt"))
        .crossJoin(
            tgt_b.agg(
                F.coalesce(F.sum("tc"), F.lit(0)).cast("double").alias("_tt")
            )
        )
    )
    # buckets absent from the raw pool can't appear in any raw doc, so the
    # left join from raw buckets covers every bucket the scorer will see
    ratio = (
        raw_b.join(tgt_b, "bucket", "left")
        .crossJoin(F.broadcast(totals))
        .select(
            "bucket",
            (
                F.log(
                    (F.coalesce(F.col("tc"), F.lit(0)) + lam)
                    / (F.col("_tt") + lam * n_buckets)
                )
                - F.log((F.col("rc") + lam) / (F.col("_rt") + lam * n_buckets))
            ).alias("lr"),
        )
    )
    w = (
        raw_c.join(F.broadcast(ratio), "bucket")
        .groupBy(id_col)
        .agg(F.sum(F.col("c") * F.col("lr")).alias("_w"))
    )
    return docs.select(id_col).join(w, id_col, "left").select(
        id_col,
        F.round(F.coalesce(F.col("_w"), F.lit(0.0)), 4).alias("dsir_logweight"),
    )


def dsir_resample(
    docs: DataFrame,
    target: DataFrame,
    k: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = DSIR_N_BUCKETS,
    smoothing: float = 1.0,
    seed: str = "dsir",
) -> DataFrame:
    """Gumbel-top-k importance resample: (id, dsir_logweight, dsir_key)
    for the ``k`` selected documents, where ``dsir_key = logweight +
    Gumbel(md5(seed|id))`` — deterministic across engines and cluster
    sizes (checked by
    tests/test_sampling.py::test_dsir_resample_deterministic_and_biased),
    equivalent in
    distribution to sampling k docs without replacement with probability
    proportional to exp(logweight). Top-k is a TakeOrderedAndProject —
    no global sort materializes."""
    w = dsir_weights(
        docs, target, id_col=id_col, text_col=text_col,
        n_buckets=n_buckets, smoothing=smoothing,
    )
    u = (
        _dsir_bucket(
            F.concat(F.lit(seed + "|"), F.col(id_col).cast("string"))
        ).cast("double")
        + F.lit(0.5)
    ) / F.lit(float(1 << 48))
    gumbel = -F.log(-F.log(u))
    return (
        w.select(
            id_col,
            "dsir_logweight",
            F.round(F.col("dsir_logweight") + gumbel, 4).alias("dsir_key"),
        )
        .orderBy(F.desc("dsir_key"), F.col(id_col))
        .limit(int(k))
    )


def assign_split(
    docs: DataFrame,
    weights: dict[str, float] | None = None,
    id_col: str = "doc_id",
    seed: str = "split",
) -> DataFrame:
    """Input rows plus a deterministic ``split`` column ('train'/'val'/
    'test' by default, any names via ``weights``): the held-out-set
    assignment every training pipeline needs, stable under re-runs,
    repartitioning, cluster size, and corpus growth (a doc keeps its
    split when new docs arrive — the property a random() split lacks and
    leakage audits depend on).

    The assignment hashes ``md5(seed|id)`` to a uniform draw in [0, 1)
    and walks the cumulative weight boundaries in the given key order;
    weights are normalized, so {'train': 98, 'val': 1, 'test': 1} works.

    Scale shape: one scan-side projection (hash + CASE chain) — zero
    exchanges, zero state; exactly replayable in SQL."""
    if weights is None:
        weights = {"train": 0.98, "val": 0.01, "test": 0.01}
    if not weights:
        raise ValueError("weights must be non-empty")
    if any(v < 0 for v in weights.values()) or sum(weights.values()) <= 0:
        raise ValueError("weights must be non-negative with a positive sum")
    total = float(sum(weights.values()))
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(seed + "|"), F.col(id_col).cast("string"))),
                1,
                12,
            ),
            16,
            10,
        ).cast("double")
        + F.lit(0.5)
    ) / F.lit(float(1 << 48))
    names = list(weights)
    cum = 0.0
    arms = []
    for name in names[:-1]:
        cum += float(weights[name]) / total
        arms.append((name, cum))
    # innermost = the last bucket (absorbs fp residue); wrap backwards so
    # the FIRST boundary is the outermost — earliest match wins
    out = F.lit(names[-1])
    for name, bound in reversed(arms):
        out = F.when(u < F.lit(bound), F.lit(name)).otherwise(out)
    return docs.withColumn("split", out)
