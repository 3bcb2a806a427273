"""``jobs/serve.py`` with the benchmark's span recorder installed.

    python3 perfbench/traced_serve.py --bundle DIR --port P

Wraps the query-path layers (see spans.install_query_layers) and the HTTP
handler, then runs ``jobs/serve.py`` unchanged. A request is traced when it
carries ``X-Bench-Trace: 1``; ``X-Bench-Rid`` becomes the request id of its
spans. Two benchmark-only routes are answered before the program sees the
request: ``/_bench/jobs`` (Spark jobs started so far, via statusTracker) and
``/_bench/spans`` (every finished span).
"""

from __future__ import annotations

import os
import runpy
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

from spans import Tracer, install_query_layers, to_jsonable  # noqa: E402


def install_server(tr: Tracer) -> None:
    import google_spark.server as server

    make_handler = server.make_handler

    def traced_make_handler(engine):
        base = make_handler(engine)

        class Traced(base):
            def do_GET(self):  # noqa: N802 — http.server API
                if self.path == "/_bench/jobs":
                    from pyspark import SparkContext

                    from common import spark_job_count

                    sc = SparkContext._active_spark_context
                    return self._json(200, {"jobs": spark_job_count(sc) if sc else 0})
                if self.path == "/_bench/spans":
                    return self._json(200, to_jsonable(tr.finished()))
                tr.begin(self.headers.get("X-Bench-Rid"), self.headers.get("X-Bench-Trace") == "1")
                try:
                    with tr.span("server.request"):
                        base.do_GET(self)
                finally:
                    tr.end()

        return Traced

    server.make_handler = traced_make_handler


def main() -> None:
    tr = Tracer()
    install_query_layers(tr)
    install_server(tr)
    sys.argv = [os.path.join(ROOT, "jobs", "serve.py")] + sys.argv[1:]
    runpy.run_path(sys.argv[0], run_name="__main__")


if __name__ == "__main__":
    main()
