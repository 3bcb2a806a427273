"""spark-submit entry: BM25 top-k queries against a built index.

    spark-submit --py-files google_spark.zip jobs/query_topk.py \
        --index /data/index_build/data/b00009-1a2b3c --query "hash join" -k 10

``--index`` is a ``write_index`` directory, such as the catalog segment
``jobs/build_index.py`` prints as ``index``.

Runs the distributed block-max WAND top-k (``index_query.wand_topk``) and
prints one JSON line per query with ranked (doc_id, score) and latency.
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
    ap.add_argument("--index", required=True, help="index dir (postings/terms/stats)")
    ap.add_argument("--query", action="append", required=True)
    ap.add_argument("-k", type=int, default=10)
    ap.add_argument("--mode", default="simple", choices=["simple", "code"])
    ap.add_argument("--cores", default=None)
    args = ap.parse_args()

    from google_spark.session import get_spark

    spark = get_spark(app="query_topk", cores=args.cores)
    from google_spark.operators.index_build import read_index
    from google_spark.operators.index_query import wand_topk

    index = read_index(spark, args.index)
    for q in args.query:
        t0 = time.perf_counter()
        rows = wand_topk(index, q, k=args.k, mode=args.mode).collect()
        print(
            json.dumps(
                {
                    "query": q,
                    "k": args.k,
                    "engine": "wand",
                    "latency_ms": round((time.perf_counter() - t0) * 1000, 1),
                    "results": [
                        {"doc_id": r["doc_id"], "score": round(r["score"], 6)}
                        for r in rows
                    ],
                }
            )
        )
    spark.stop()


if __name__ == "__main__":
    main()
