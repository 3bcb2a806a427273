"""spark-submit entry: trigram code-search index lifecycle + queries.

    spark-submit --py-files google_spark.zip jobs/trigram_job.py \
        --root /data/tri build --input /data/files.parquet
    ... trigram_job.py --root R append --input /data/new_files.parquet
    ... trigram_job.py --root R compact --dest /data/tri_v2
    ... trigram_job.py --root R search --pattern 'data (group|row)' [-i]
    ... trigram_job.py --root R grep --pattern 'TODO' [-i]
    ... trigram_job.py --root R substring --literal 'xxhash64('

Also runnable as plain ``python jobs/trigram_job.py`` (the session factory
self-ships the package to executors). Every subcommand prints one JSON
line. ``--input`` tables need (id-col, text-col) columns; search commands
need ``--docs`` (the doc table to verify against — the index stores only
doc_ids, never text).

The operational loop mirrors catalog_job.py: nightly ``append`` of the new
commit batch (cost ∝ batch, history never re-gram'd), ``compact`` when the
segment count grows, then atomic path-flip of the compacted index.
"""

from __future__ import annotations

import argparse
import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--root", required=True, help="trigram index directory")
    ap.add_argument("--cores", default=None)
    sub = ap.add_subparsers(dest="op", required=True)

    p_build = sub.add_parser("build", help="full build -> new index at --root")
    p_app = sub.add_parser("append", help="new docs -> committed segment")
    for p in (p_build, p_app):
        p.add_argument("--input", required=True, help="parquet doc table")
        p.add_argument("--id-col", default="doc_id")
        p.add_argument("--text-col", default="text")
        p.add_argument("--n-shards", type=int, default=8)
    p_build.add_argument("--fold-case", action="store_true")

    p_cmp = sub.add_parser("compact", help="merge base+segments -> --dest")
    p_cmp.add_argument("--dest", required=True)

    for name, help_ in (
        ("search", "regex search: (doc_id, match)"),
        ("grep", "grep -n: (doc_id, line_no, line)"),
    ):
        p = sub.add_parser(name, help=help_)
        p.add_argument("--pattern", required=True)
        p.add_argument("--docs", required=True, help="parquet doc table")
        p.add_argument("--id-col", default="doc_id")
        p.add_argument("--text-col", default="text")
        p.add_argument("--limit", type=int, default=20)
        p.add_argument("-i", "--ignore-case", action="store_true")
    p_sub = sub.add_parser("substring", help="literal search: (doc_id, match)")
    p_sub.add_argument("--literal", required=True)
    p_sub.add_argument("--docs", required=True)
    p_sub.add_argument("--id-col", default="doc_id")
    p_sub.add_argument("--text-col", default="text")
    p_sub.add_argument("--limit", type=int, default=20)
    p_sub.add_argument("-i", "--ignore-case", action="store_true")

    args = ap.parse_args()

    from google_spark.operators.trigram import (
        append_trigram_index,
        build_trigram_index,
        compact_trigram_index,
        grep_lines,
        read_trigram_index,
        regex_search,
        substring_search,
        trigram_segments,
        write_trigram_index,
    )
    from google_spark.session import get_spark

    spark = get_spark(app=f"trigram_{args.op}", cores=args.cores)
    t0 = time.perf_counter()
    out: dict = {"op": args.op, "root": args.root}

    if args.op == "build":
        docs = spark.read.parquet(args.input)
        idx = build_trigram_index(
            spark,
            docs,
            id_col=args.id_col,
            text_col=args.text_col,
            n_shards=args.n_shards,
            fold_case=args.fold_case,
        )
        write_trigram_index(idx, args.root)
        out.update(n_docs=idx.n_docs, fold_case=idx.fold_case)
    elif args.op == "append":
        docs = spark.read.parquet(args.input)
        seg = append_trigram_index(
            spark,
            args.root,
            docs,
            id_col=args.id_col,
            text_col=args.text_col,
            n_shards=args.n_shards,
        )
        out.update(segment=seg, segments=trigram_segments(args.root))
    elif args.op == "compact":
        idx = compact_trigram_index(spark, args.root, args.dest)
        out.update(dest=args.dest, n_docs=idx.n_docs)
    else:
        idx = read_trigram_index(spark, args.root)
        docs = spark.read.parquet(args.docs)
        kw = dict(
            id_col=args.id_col,
            text_col=args.text_col,
            limit=args.limit,
            case_insensitive=args.ignore_case,
        )
        if args.op == "search":
            rows = regex_search(spark, idx, docs, args.pattern, **kw).collect()
        elif args.op == "grep":
            rows = grep_lines(spark, idx, docs, args.pattern, **kw).collect()
        else:
            rows = substring_search(
                spark, idx, docs, args.literal, **kw
            ).collect()
        out["results"] = [r.asDict() for r in rows]

    out["seconds"] = round(time.perf_counter() - t0, 3)
    spark.stop()
    print(json.dumps(out))


if __name__ == "__main__":
    main()
