"""spark-submit entry: resumable inverted-index build into a snapshot catalog.

    spark-submit --py-files google_spark.zip jobs/build_index.py \
        --input /data/source_files.parquet --out /data/index_build \
        --id-col doc_id --text-col content --n-batches 64 --n-shards 256

``--out`` is a :class:`~google_spark.operators.catalog.SnapshotCatalog`
root. The docs are split into ``--n-batches`` batches by
``pmod(xxhash64(doc_id), n_batches)``, a pure function of the data, and
each batch is one catalog commit: ``commit_build`` for batch 0,
``append_docs`` for the rest (the reference indexes in key-range rounds
and folds each into the live index with ``indexJoin``, Indexer.java:35-71).
Each commit's summary is tagged with the batch id, the batch's content
checksum, its docs and bytes and its start time (its seconds are
``committed_at - batch_started_at``), so ``SnapshotCatalog.log()`` is the
lineage table.

Resume: every batch commit advances the catalog's ``stream_epochs``
high-water mark of the ``build/<n_batches>`` stream, which every later
commit carries and ``expire`` keeps. A rerun (after a crash) starts after
the last committed batch; a rerun of a finished build commits nothing.
The split is part of the stream id, so a rerun with another
``--n-batches`` finds no mark and starts again at batch 0, whose
overwrite commit replaces the index and keeps only its own mark. After
the last batch one ``compact`` folds the segments into one; the job
prints that segment's directory as ``index``, which
``jobs/query_topk.py --index`` reads.

Also runnable as plain ``python jobs/build_index.py`` (the session factory
self-ships the package to executors). Prints one JSON metrics line.
The zip for --py-files is produced by ``python jobs/make_pyfiles.py``.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

BUILD_STREAM = "build"


def build_batches(
    spark,
    docs,
    root: str,
    n_batches: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    mode: str = "simple",
    n_shards: int = 8,
) -> str:
    """Commit the batches after the catalog's ``build/<n_batches>`` mark,
    compact a head of several segments (or with delete files) into one
    segment, and return that segment's directory (a
    :func:`~google_spark.operators.index_build.write_index` layout)."""
    from pyspark.sql import functions as F

    from google_spark.operators.catalog import SnapshotCatalog

    cat = SnapshotCatalog(root)
    stream = f"{BUILD_STREAM}/{n_batches}"
    done = -1
    if cat.head() is not None:
        marks = cat.manifest().summary.get("stream_epochs", {})
        done = int(marks.get(stream, -1))
    for b in range(done + 1, n_batches):
        started = time.time()
        batch = docs.filter(
            F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_batches)) == b
        )
        # order-independent content checksum "<n>:<xor hex>": XOR of the
        # 60-bit prefixes of each row's sha256(text), one distributed agg
        agg = batch.select(
            F.conv(F.substring(F.sha2(F.col(text_col), 256), 1, 15), 16, 10)
            .cast("long")
            .alias("p"),
            F.octet_length(F.col(text_col)).alias("nb"),
        ).agg(
            F.expr("bit_xor(p)").alias("x"),
            F.count("*").alias("n"),
            F.sum("nb").alias("nb"),
        ).collect()[0]
        n = int(agg["n"] or 0)
        tags = {
            "stream_id": stream,
            "stream_epoch": b,
            "batch": b,
            "content_checksum": f"{n}:{int(agg['x'] or 0):015x}",
            "batch_docs": n,
            "batch_bytes": int(agg["nb"] or 0),
            "batch_started_at": started,
        }
        if b == 0:
            # the overwrite drops every earlier commit's docs, so no
            # earlier mark (another split's) may survive it
            tags["stream_epochs"] = {stream: 0}
        commit = cat.commit_build if b == 0 else cat.append_docs
        commit(
            spark, batch, id_col=id_col, text_col=text_col, mode=mode,
            n_shards=n_shards, tags=tags,
        )
    m = cat.manifest()
    if len(m.segments) > 1 or m.deletes:
        # read_index of one segment sees neither the others nor the
        # catalog's delete files
        cat.compact(spark)
    return os.path.join(root, cat.manifest().segments[0])


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="parquet path of the doc table")
    ap.add_argument("--out", required=True, help="snapshot catalog root")
    ap.add_argument("--id-col", default="doc_id")
    ap.add_argument("--text-col", default="text")
    ap.add_argument("--mode", default="simple", choices=["simple", "code"])
    ap.add_argument("--n-batches", type=int, default=8)
    ap.add_argument("--n-shards", type=int, default=8)
    ap.add_argument("--cores", default=None)
    args = ap.parse_args()

    from google_spark.session import get_spark

    spark = get_spark(app="build_index", cores=args.cores)
    from google_spark.operators.catalog import SnapshotCatalog
    from google_spark.operators.index_build import read_index
    from google_spark.session import parquet_files

    t0 = time.perf_counter()
    docs = spark.read.parquet(args.input)
    n_docs = docs.count()
    seg = build_batches(
        spark,
        docs,
        args.out,
        n_batches=args.n_batches,
        id_col=args.id_col,
        text_col=args.text_col,
        mode=args.mode,
        n_shards=args.n_shards,
    )
    wall = time.perf_counter() - t0
    cat = SnapshotCatalog(args.out)
    marks = cat.manifest().summary["stream_epochs"]
    index = read_index(spark, seg)
    print(
        json.dumps(
            {
                "job": "build_index",
                "n_docs": n_docs,
                "n_terms": index.terms.read(["term"]).num_rows,
                "avgdl": round(index.avgdl, 4),
                "wall_s": round(wall, 3),
                "docs_per_sec": round(n_docs / wall, 2),
                "batches": marks[f"{BUILD_STREAM}/{args.n_batches}"] + 1,
                "version": cat.head(),
                "index": seg,
                "index_bytes": sum(
                    os.path.getsize(p)
                    for p, _ in parquet_files(os.path.join(seg, "postings.parquet"))
                ),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
