"""Resumable, incremental index build with per-batch checkpoints, lineage
and metrics tables (SURVEY.md §2.3 D7/D10, north-rule resumability).

The reference processes the corpus in 7 key-range rounds and folds each
round into the persistent ``index`` table with ``indexJoin`` (ref:
src/cis5550/jobs/Indexer.java:53-78 round loop, 35-51 merge); restart safety
comes from the rounds being separate jobs. Spark restatement:

- docs are split into ``n_batches`` deterministic batches by
  ``pmod(xxhash64(doc_id), n_batches)`` — a pure function of the data, so a
  re-run assigns identical batches regardless of cluster size or input
  partitioning;
- each batch writes its partial sharded postings + per-doc stats as parquet
  under ``{out}/batches/batch=<b>/`` and then an atomic ``_COMMITTED``
  marker (parquet's own ``_SUCCESS`` guards partial writes; the marker
  carries batch-level checksums). A killed build resumes by skipping
  committed batches — the high-water-mark that makes replay idempotent
  (no double-counted df);
- the final merge reads ONLY committed batches, merges partial posting
  blobs per (term, shard) with ``merge_postings`` (batches partition the
  doc universe, so merge is a disjoint doc_id merge-sort), recomputes block
  metadata, and publishes the final index atomically (write to
  ``{out}/index.tmp`` then rename — the ``index2``->``index`` analog, ref:
  src/cis5550/jobs/Indexer.java:245-246);
- ``{out}/lineage.parquet`` gets one row per batch (docs, terms, postings,
  bytes, wall seconds, sha256 over the batch's sorted content hashes) — the
  lineage + metrics table the north rule requires.

At 10^12 files you raise ``n_batches`` so a batch is a few hours of work;
everything else is scale-free (each batch is one bounded Spark job; the
merge shuffles only compressed blobs, never raw tokens).
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from google_spark.operators.index_build import (
    POSTINGS_SCHEMA,
    IndexTables,
    build_postings,
    term_bucket_col,
    term_stats,
    tokenize_docs,
    write_index,
)

LINEAGE_SCHEMA = (
    "batch int, n_docs long, n_terms long, n_postings long, bytes long, "
    "wall_s double, content_checksum string, committed_at double"
)


def _batch_dir(out_dir: str, batch: int) -> str:
    return os.path.join(out_dir, "batches", f"batch={batch}")


def _marker_path(out_dir: str, batch: int) -> str:
    return os.path.join(_batch_dir(out_dir, batch), "_COMMITTED")


def committed_batches(out_dir: str, n_batches: int | None = None) -> list[int]:
    """Committed batch ids, discovered by listing ``{out}/batches`` (one
    readdir, not one stat per possible id). ``n_batches`` bounds the result
    when given; pass None for "all committed"."""
    bdir = os.path.join(out_dir, "batches")
    if not os.path.isdir(bdir):
        return []
    out = []
    for entry in os.scandir(bdir):
        if not (entry.is_dir() and entry.name.startswith("batch=")):
            continue
        try:
            b = int(entry.name[len("batch="):])
        except ValueError:
            continue
        if n_batches is not None and b >= n_batches:
            continue
        if os.path.exists(os.path.join(entry.path, "_COMMITTED")):
            out.append(b)
    return sorted(out)


def _write_marker(out_dir: str, batch: int, payload: dict) -> None:
    """Atomic commit: write tmp then rename (POSIX rename atomicity; on an
    object store this becomes the catalog's atomic snapshot commit)."""
    path = _marker_path(out_dir, batch)
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(payload, f)
    os.replace(tmp, path)


@dataclass
class BatchResult:
    batch: int
    n_docs: int
    n_terms: int
    n_postings: int
    bytes: int
    wall_s: float
    content_checksum: str


def build_batch(
    spark: SparkSession,
    docs: DataFrame,
    out_dir: str,
    batch: int,
    n_batches: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    mode: str = "simple",
    stem: bool = False,
    n_shards: int = 8,
) -> BatchResult:
    """Build + commit one batch's partial postings. Skips nothing — callers
    check ``committed_batches`` first."""
    t0 = time.perf_counter()
    batch_docs = docs.filter(
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_batches)) == batch
    )
    # Batch-level content checksum: order-independent XOR of 60-bit
    # prefixes of per-row sha256(text), fully distributed (a driver-side
    # collect of every row's digest would not survive 10^12-file batches).
    # Format "<n>:<xor hex>"; certified per batch in the lineage row.
    agg = batch_docs.select(
        F.conv(F.substring(F.sha2(F.col(text_col), 256), 1, 15), 16, 10)
        .cast("long")
        .alias("p")
    ).agg(F.expr("bit_xor(p)").alias("x"), F.count("*").alias("n")).collect()[0]
    checksum = f"{int(agg['n'] or 0)}:{int(agg['x'] or 0):015x}"

    doc_terms = tokenize_docs(
        batch_docs, id_col=id_col, text_col=text_col, mode=mode, stem=stem
    ).persist()
    postings = build_postings(doc_terms, n_shards=n_shards)
    bdir = _batch_dir(out_dir, batch)
    # Lineage artifact: the batch's full query plan (parsed -> analyzed ->
    # optimized -> physical), so a build is auditable after the fact.
    os.makedirs(bdir, exist_ok=True)
    with open(os.path.join(bdir, "plan.txt"), "w") as f:
        f.write(postings._jdf.queryExecution().toString())
    postings.write.mode("overwrite").parquet(os.path.join(bdir, "postings.parquet"))
    per_doc = doc_terms.groupBy("doc_id").agg(F.first("dl").alias("dl"))
    per_doc.write.mode("overwrite").parquet(os.path.join(bdir, "doclen.parquet"))

    written = spark.read.parquet(os.path.join(bdir, "postings.parquet"))
    agg = written.agg(
        F.count("*").alias("rows"),
        F.sum("df").alias("n_postings"),
        F.sum(F.octet_length("postings")).alias("bytes"),
    ).collect()[0]
    n_docs = per_doc.count()
    doc_terms.unpersist()
    res = BatchResult(
        batch=batch,
        n_docs=n_docs,
        n_terms=int(agg["rows"] or 0),
        n_postings=int(agg["n_postings"] or 0),
        bytes=int(agg["bytes"] or 0),
        wall_s=time.perf_counter() - t0,
        content_checksum=checksum,
    )
    _write_marker(out_dir, batch, {**res.__dict__, "committed_at": time.time()})
    return res


def _merge_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
    """applyInPandas kernel: one (term-bucket, shard) group of partial
    blobs across batches -> one merged, re-blocked posting row PER TERM
    (indexJoin analog). Per-term merge is vectorized end to end: NumPy
    decode of every partial, argsort over the concatenated (disjoint) doc
    universe, NumPy re-encode; row assembly is shared with the encode
    kernel (encode_sorted_terms), so batch and merge outputs cannot
    structurally drift."""
    import numpy as np

    from google_spark.functions.codec import decode_postings_full_np
    from google_spark.operators.index_build import encode_sorted_terms

    def term_arrays():
        for term, g in pdf.groupby("term", sort=False):
            d_parts, t_parts, l_parts, p_parts = [], [], [], []
            for b in g["postings"]:
                d, t, l, p = decode_postings_full_np(bytes(b))
                d_parts.append(d)
                t_parts.append(t)
                l_parts.append(l)
                p_parts.extend(p)
            docs = np.concatenate(d_parts)
            order = np.argsort(docs, kind="stable")
            yield (
                term,
                docs[order],
                np.concatenate(t_parts)[order],
                np.concatenate(l_parts)[order],
                [p_parts[i] for i in order],
            )

    return encode_sorted_terms(int(pdf["shard"].iloc[0]), term_arrays())


def _segment_dir(out_dir: str, lo: int, hi: int) -> str:
    return os.path.join(out_dir, "segments", f"seg={lo}-{hi}")


def committed_segments(out_dir: str) -> list[tuple[int, int]]:
    """Committed compaction segments as (lo, hi) batch ranges (inclusive)."""
    sdir = os.path.join(out_dir, "segments")
    if not os.path.isdir(sdir):
        return []
    out = []
    for entry in os.scandir(sdir):
        if not (entry.is_dir() and entry.name.startswith("seg=")):
            continue
        try:
            lo, hi = (int(x) for x in entry.name[len("seg="):].split("-"))
        except ValueError:
            continue
        if os.path.exists(os.path.join(entry.path, "_COMMITTED")):
            out.append((lo, hi))
    return sorted(out)


def compact_batches(
    spark: SparkSession, out_dir: str, lo: int, hi: int
) -> None:
    """Merge committed batches ``lo..hi`` (inclusive) into ONE segment —
    the Iceberg ``rewrite_data_files`` analog for the committed-batch
    layout (streaming epochs produce many small batches; compaction keeps
    the finalize-merge fan-in bounded). Reference parity: the KVS worker's
    ``tableGC`` log compaction (ref: src/cis5550/kvs/Worker.java:257-281)
    rewrites an append-only table log into one compacted file the same
    way — merged payload first, atomic swap after. The segment holds merged partial
    postings (same ``_merge_bucket`` kernel, so merge associativity over
    disjoint doc universes keeps the FINAL index byte-identical whether or
    not a compaction ran), the unioned doc lengths, and an atomic
    ``_COMMITTED`` marker that embeds the source batches' lineage payloads
    verbatim (marker-preserving: ``write_lineage`` still emits one row per
    original batch after the batch dirs are garbage-collected).

    Crash safety: everything lands under ``seg=lo-hi`` BEFORE the marker
    rename; a kill mid-compaction leaves an uncommitted segment dir that
    the resolver ignores (the batch dirs still serve the merge), and a kill
    after commit but before :func:`gc_compacted` double-stores but never
    double-counts (the resolver reads covered batches from the segment
    only)."""
    sdir = _segment_dir(out_dir, lo, hi)
    if os.path.exists(os.path.join(sdir, "_COMMITTED")):
        # Idempotent retry: a committed segment is immutable. Rewriting its
        # parquet under the live marker would break crash safety (a second
        # kill mid-rewrite leaves a committed-but-corrupt segment), and
        # after GC the sources may no longer exist anyway.
        return
    rng = set(range(lo, hi + 1))
    # Sources: committed segments fully inside [lo, hi] (largest spans
    # first, non-overlapping, never the target range itself), then loose
    # committed batches for whatever those don't cover. Accepting segments
    # as inputs makes compaction HIERARCHICAL: seg 0-1 + batches 2-3 can
    # re-compact into seg 0-3 even after batches 0-1 were GC'd (their
    # lineage payloads travel inside seg 0-1's marker).
    covered: set[int] = set()
    src_segs: list[tuple[int, int]] = []
    for slo, shi in sorted(
        committed_segments(out_dir), key=lambda s: (s[0] - s[1], s[0])
    ):
        srng = set(range(slo, shi + 1))
        if (slo, shi) == (lo, hi) or not srng <= rng or srng & covered:
            continue
        src_segs.append((slo, shi))
        covered |= srng
    loose = [b for b in committed_batches(out_dir) if b in rng - covered]
    missing = sorted(rng - covered - set(loose))
    if missing:
        raise RuntimeError(f"cannot compact: uncommitted batches {missing}")
    os.makedirs(sdir, exist_ok=True)
    merged, doclens = _merged_sources(spark, out_dir, src_segs, loose)
    merged.write.mode("overwrite").parquet(os.path.join(sdir, "postings.parquet"))
    doclens.write.mode("overwrite").parquet(os.path.join(sdir, "doclen.parquet"))
    sources = []
    for s, e in src_segs:
        with open(os.path.join(_segment_dir(out_dir, s, e), "_COMMITTED")) as f:
            sources.extend(json.load(f)["sources"])
    for b in loose:
        with open(_marker_path(out_dir, b)) as f:
            sources.append(json.load(f))
    sources.sort(key=lambda d: d["batch"])
    path = os.path.join(sdir, "_COMMITTED")
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(
            {"lo": lo, "hi": hi, "sources": sources, "committed_at": time.time()},
            f,
        )
    os.replace(tmp, path)


def _merged_sources(
    spark: SparkSession,
    out_dir: str,
    segs: list[tuple[int, int]],
    loose: list[int],
):
    """Read partial postings + doclens from segment and batch dirs and
    merge the postings with the associative ``_merge_bucket`` kernel —
    shared by :func:`compact_batches` (writes a segment) and
    :func:`merge_batches` (publishes the index), so the two paths cannot
    diverge (divergence would break the byte-identical-after-compaction
    invariant)."""
    posting_paths = [
        os.path.join(_segment_dir(out_dir, lo, hi), "postings.parquet")
        for lo, hi in segs
    ] + [os.path.join(_batch_dir(out_dir, b), "postings.parquet") for b in loose]
    doclen_paths = [
        os.path.join(_segment_dir(out_dir, lo, hi), "doclen.parquet")
        for lo, hi in segs
    ] + [os.path.join(_batch_dir(out_dir, b), "doclen.parquet") for b in loose]
    parts = spark.read.parquet(*posting_paths)
    merged = parts.withColumn("tb", term_bucket_col("term")).groupBy(
        "tb", "shard"
    ).applyInPandas(_merge_bucket, schema=POSTINGS_SCHEMA)
    return merged, spark.read.parquet(*doclen_paths)


def _chosen_segments(out_dir: str) -> tuple[list[tuple[int, int]], set[int]]:
    """The greedy non-overlapping segment selection the merge resolver
    uses (largest spans first, ties to lowest lo) and the batch ids it
    covers. GC must use the SAME selection: a batch covered only by an
    overlapping segment the resolver ignores still serves merges from its
    loose dir and must not be collected."""
    covered: set[int] = set()
    segs: list[tuple[int, int]] = []
    for lo, hi in sorted(
        committed_segments(out_dir), key=lambda s: (s[0] - s[1], s[0])
    ):
        rng = set(range(lo, hi + 1))
        if rng & covered:
            continue
        segs.append((lo, hi))
        covered |= rng
    return segs, covered


def gc_compacted(out_dir: str) -> list[int]:
    """Delete batch dirs covered by the resolver's CHOSEN segments, plus
    superseded segment dirs that lie fully inside the chosen cover (e.g.
    seg 0-1 after a hierarchical re-compaction into seg 0-3); returns the
    collected batch ids. Safe to kill at any point — the resolver never
    reads a covered batch dir or a non-chosen segment."""
    import shutil

    chosen, covered = _chosen_segments(out_dir)
    removed = []
    for b in sorted(covered):
        bdir = _batch_dir(out_dir, b)
        if os.path.isdir(bdir):
            shutil.rmtree(bdir)
            removed.append(b)
    chosen_set = set(chosen)
    for lo, hi in committed_segments(out_dir):
        if (lo, hi) not in chosen_set and set(range(lo, hi + 1)) <= covered:
            shutil.rmtree(_segment_dir(out_dir, lo, hi))
    return removed


def _resolve_inputs(
    out_dir: str, n_batches: int
) -> tuple[list[tuple[int, int]], list[int]]:
    """Choose the merge inputs: committed segments (largest spans first,
    non-overlapping) plus individually-committed batches for everything a
    chosen segment doesn't cover. Raises when a batch is covered by neither
    (uncommitted work)."""
    segs, covered = _chosen_segments(out_dir)
    loose = [b for b in committed_batches(out_dir, n_batches) if b not in covered]
    missing = sorted(set(range(n_batches)) - covered - set(loose))
    if missing:
        raise RuntimeError(f"cannot merge: uncommitted batches {missing}")
    return segs, loose


def merge_batches(
    spark: SparkSession, out_dir: str, n_batches: int, total_docs: int
) -> IndexTables:
    """Merge all committed work — compaction segments plus loose batches —
    into the final index and publish it atomically under
    ``{out_dir}/index``. Requires every batch committed (directly or via a
    committed segment)."""
    segs, loose = _resolve_inputs(out_dir, n_batches)
    merged, doclens = _merged_sources(spark, out_dir, segs, loose)
    total_dl = doclens.agg(F.sum("dl").alias("s")).collect()[0]["s"] or 0
    avgdl = total_dl / total_docs if total_docs else 0.0

    tmp = os.path.join(out_dir, "index.tmp")
    final = os.path.join(out_dir, "index")
    write_index(
        IndexTables(
            postings=merged,
            terms=term_stats(merged, total_docs),
            n_docs=total_docs,
            avgdl=avgdl,
        ),
        tmp,
    )
    if os.path.exists(final):
        import shutil

        shutil.rmtree(final)
    os.replace(tmp, final)
    return IndexTables(
        postings=spark.read.parquet(os.path.join(final, "postings.parquet")),
        terms=spark.read.parquet(os.path.join(final, "terms.parquet")),
        n_docs=total_docs,
        avgdl=avgdl,
    )


def write_lineage(spark: SparkSession, out_dir: str, n_batches: int) -> DataFrame:
    """Materialize the lineage/metrics table from the commit markers. One
    row per ORIGINAL batch even after compaction + GC: segments embed their
    source batches' marker payloads verbatim, so per-batch lineage
    (checksums, wall times) survives the batch dirs' removal."""
    payloads: dict[int, dict] = {}
    for lo, hi in committed_segments(out_dir):
        with open(os.path.join(_segment_dir(out_dir, lo, hi), "_COMMITTED")) as f:
            for d in json.load(f)["sources"]:
                if d["batch"] < n_batches:
                    payloads[d["batch"]] = d
    for b in committed_batches(out_dir, n_batches):
        with open(_marker_path(out_dir, b)) as f:
            payloads[b] = json.load(f)
    rows = []
    for b in sorted(payloads):
        d = payloads[b]
        rows.append(
            (
                d["batch"],
                d["n_docs"],
                d["n_terms"],
                d["n_postings"],
                d["bytes"],
                float(d["wall_s"]),
                d["content_checksum"],
                float(d.get("committed_at", 0.0)),
            )
        )
    df = spark.createDataFrame(rows, LINEAGE_SCHEMA)
    df.write.mode("overwrite").parquet(os.path.join(out_dir, "lineage.parquet"))
    return spark.read.parquet(os.path.join(out_dir, "lineage.parquet"))


def incremental_build(
    spark: SparkSession,
    docs: DataFrame,
    out_dir: str,
    n_batches: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    mode: str = "simple",
    stem: bool = False,
    n_shards: int = 8,
    stop_after: int | None = None,
) -> IndexTables | None:
    """Full resumable build: skip committed batches, build the rest, merge,
    write lineage. ``stop_after`` aborts after N newly-built batches (test
    hook simulating a mid-build kill); returns None when stopped early."""
    os.makedirs(out_dir, exist_ok=True)
    total_docs = docs.count()
    # "committed" includes batches whose only copy lives inside a
    # compaction segment (their dirs are GC'd): rebuilding those would
    # re-pay O(corpus) tokenize+encode for dirs the merge resolver then
    # ignores anyway.
    _, seg_cover = _chosen_segments(out_dir)
    done = set(committed_batches(out_dir, n_batches)) | {
        b for b in seg_cover if b < n_batches
    }
    built = 0
    for b in range(n_batches):
        if b in done:
            continue
        build_batch(
            spark,
            docs,
            out_dir,
            b,
            n_batches,
            id_col=id_col,
            text_col=text_col,
            mode=mode,
            stem=stem,
            n_shards=n_shards,
        )
        built += 1
        if stop_after is not None and built >= stop_after:
            return None
    index = merge_batches(spark, out_dir, n_batches, total_docs)
    write_lineage(spark, out_dir, n_batches)
    return index
