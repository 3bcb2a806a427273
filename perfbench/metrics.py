"""Metric names, units and directions; BENCHMARK.json lists the same ones
(the smoke test checks that the two agree)."""

# (name, unit, better, bound) — reported by every workload with --trace 0
END_TO_END = [
    ("setup_s", "s", "lower", 0.25),
    ("peak_rss_mb", "MB", "lower", 0.1),
    ("bundle_bytes_per_input_byte", "ratio", "lower", 0.1),
]

# (name, unit, better) — reported by every workload with --trace 1; a layer a
# workload does not exercise reports 0. The first three are end-to-end figures
# every run prints, kept out of END_TO_END because on a shared machine their
# run-to-run spread is wider than any bound allowed there.
PER_LAYER = [
    ("query_p50_ms", "ms", "lower"),
    ("query_p99_ms", "ms", "lower"),
    ("serve_qps", "1/s", "higher"),
    ("server.overhead_ms", "ms", "lower"),
    ("server.self_ms", "ms", "lower"),
    ("search.ms", "ms", "lower"),
    ("search.result_cache_hit_ratio", "ratio", "higher"),
    ("search.uncached_ms", "ms", "lower"),
    ("search.meta_read_ms", "ms", "lower"),
    ("search.snippet_ms", "ms", "lower"),
    ("search.suggest_ms", "ms", "lower"),
    ("search.self_ms", "ms", "lower"),
    ("search.refresh_count", "count", "lower"),
    ("search.refresh_ms", "ms", "lower"),
    ("index_query.fetch_ms", "ms", "lower"),
    ("index_query.fetch_bytes_per_query", "bytes", "lower"),
    ("index_query.postings_cache_hit_ratio", "ratio", "higher"),
    ("index_query.kernel_ms", "ms", "lower"),
    ("index_query.postings_in_per_query", "count", "lower"),
    ("index_query.positions_ms", "ms", "lower"),
    ("index_query.self_ms", "ms", "lower"),
    ("codec.decode_ms", "ms", "lower"),
    ("codec.postings_decoded", "count", "lower"),
    ("index_build.build_index_s", "s", "lower"),
    ("index_build.write_s", "s", "lower"),
    ("index_build.n_postings", "count", "lower"),
    ("index_build.postings_bytes", "bytes", "lower"),
    ("pagerank.s", "s", "lower"),
    ("pagerank.iterations", "count", "lower"),
    ("pagerank.spark_jobs", "count", "lower"),
    ("catalog.append_s", "s", "lower"),
    ("catalog.delete_s", "s", "lower"),
    ("catalog.segments", "count", "lower"),
    ("spark.jobs_per_query", "count", "lower"),
    ("spark.build_jobs", "count", "lower"),
    ("spark.ingest_jobs", "count", "lower"),
    ("build_docs_per_s", "1/s", "higher"),
    ("append_p50_s", "s", "lower"),
    ("freshness_p50_s", "s", "lower"),
    ("error_rate", "ratio", "lower"),
    ("trace.overhead_ms", "ms", "lower"),
    ("trace.spans", "count", "higher"),
    ("loadgen.late_p99_ms", "ms", "lower"),
]

UNITS = {name: unit for name, unit, *_ in END_TO_END + PER_LAYER}
