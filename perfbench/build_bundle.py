"""Build and publish the serve workloads' bundle in its own process.

    python3 perfbench/build_bundle.py --out DIR --docs N --corpus-seed S

Generates the fixed serve corpus, hands it to the program as a parquet table,
runs ``SearchEngine.build(with_pagerank=True)`` and ``save``, then loads the
bundle and checks ``wand_topk_local`` against ``OracleIndex.topk`` on a
sample of queries. Writes ``DIR/bundle``, ``DIR/build.json`` and
``DIR/inputs.pkl`` (the generated corpus and its checker, which every serve
run needs and would otherwise rebuild in ~5 s); the JVM exits with this
process, so the serving runs never share a process with it.
"""

from __future__ import annotations

import argparse
import os
import pickle
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

from check import Checker  # noqa: E402
from common import bundle_stats, dir_bytes, stop_spark, write_corpus_parquet, write_json  # noqa: E402
from gen import QueryGen, make_corpus  # noqa: E402

WAND_CHECK_QUERIES = 40


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", required=True)
    ap.add_argument("--docs", type=int, required=True)
    ap.add_argument("--corpus-seed", type=int, required=True)
    args = ap.parse_args()

    _, corpus = make_corpus(args.corpus_seed, args.docs)
    table = os.path.join(args.out, "input")
    write_corpus_parquet(corpus, table, parts=8)
    bundle = os.path.join(args.out, "bundle")

    from google_spark.operators.index_query import wand_topk_local
    from google_spark.search import SearchEngine
    from google_spark.session import get_spark

    spark = get_spark(app="perfbench-build")
    try:
        t0 = time.perf_counter()
        eng = SearchEngine.build(spark, spark.read.parquet(table), with_pagerank=True)
        eng.save(bundle)
        build_s = time.perf_counter() - t0
        loaded = SearchEngine.load(spark, bundle)
        checker = Checker(
            list(zip(corpus.doc_id, corpus.content)),
            {d: {"repo": r, "lang": lg} for d, r, lg in zip(corpus.doc_id, corpus.repo, corpus.lang)},
        )
        queries = QueryGen(corpus, args.corpus_seed, stream=50).distinct(
            WAND_CHECK_QUERIES, {"tail": 0.5, "multi": 0.5}
        )
        errors = []
        for q in queries:
            errors += checker.topk(q, wand_topk_local(loaded.index, q.text, k=10), 10)
    finally:
        stop_spark(spark)
    shutil.rmtree(table)
    with open(os.path.join(args.out, "inputs.pkl"), "wb") as f:
        pickle.dump((corpus, checker), f, protocol=5)
    write_json(
        os.path.join(args.out, "build.json"),
        {
            "docs": len(corpus),
            "input_bytes": corpus.n_bytes(),
            "bundle_bytes": dir_bytes(bundle),
            "build_s": build_s,
            **bundle_stats(bundle),
            "wand_checked": len(queries),
            "wand_errors": errors,
        },
    )


if __name__ == "__main__":
    main()
