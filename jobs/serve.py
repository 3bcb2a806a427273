"""spark-submit entry: HTTP JSON serving from a published bundle.

    spark-submit --py-files google_spark.zip jobs/serve.py \
        --bundle /data/serving_bundle --port 8080

Blocks serving GET /search, /autocomplete, /history, /health (see
google_spark/server.py). The bundle opens with pyarrow alone and no JVM
starts: every point-read route (/search, /suggest, /autocomplete within
the trie, /facets, /explain, /related, /wildcard, ...) is answered
without Spark, and the process imports only NumPy and pyarrow
(``pq.ParquetFile`` reads) — neither pandas, pyspark nor
``pyarrow.dataset``. The Spark session — ``local[--cores]``, app
``serve`` — is started by the first route that runs a distributed job
(/grep, /symbol, the autocomplete scan past the trie cap, /synonym with
word vectors); pyspark is imported then.
"""

from __future__ import annotations

import argparse
import functools
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--bundle", required=True, help="SearchEngine.save() dir")
    ap.add_argument("--host", default="127.0.0.1")
    ap.add_argument("--port", type=int, default=8080)
    ap.add_argument("--mode", default="simple", choices=["simple", "code"])
    ap.add_argument(
        "--cores", default=None,
        help="local[N] cores of the Spark session the distributed routes open",
    )
    args = ap.parse_args()

    from google_spark.search import SearchEngine
    from google_spark.server import serve
    from google_spark.session import get_spark

    # opened once, by the first distributed route
    open_spark = functools.cache(
        functools.partial(get_spark, app="serve", cores=args.cores)
    )
    engine = SearchEngine.load(open_spark, args.bundle, mode=args.mode)
    print(f"serving {args.bundle} on http://{args.host}:{args.port}", flush=True)
    serve(engine, host=args.host, port=args.port)


if __name__ == "__main__":
    main()
