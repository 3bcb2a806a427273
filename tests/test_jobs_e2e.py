"""spark-submit job-script e2e: the north-rule launch path (--py-files)
driven for real — build, query, and PageRank jobs run as subprocesses on a
parquet corpus, their JSON metrics lines parsed and checked (closes D14:
the rank-table materialize path)."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent


def _run(cmd: list[str], timeout: int = 300) -> dict:
    """Run a job script; return the parsed last JSON line of stdout."""
    proc = subprocess.run(
        cmd, capture_output=True, text=True, timeout=timeout, cwd=str(ROOT)
    )
    assert proc.returncode == 0, f"{cmd}\nstdout:{proc.stdout}\nstderr:{proc.stderr[-2000:]}"
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("{")]
    assert lines, f"no JSON line in stdout: {proc.stdout[-2000:]}"
    return json.loads(lines[-1])


@pytest.fixture(scope="module")
def corpus_parquet(spark, corpus_df, tmp_path_factory):
    from google_spark.sources.tables import with_doc_identity

    p = tmp_path_factory.mktemp("jobs") / "src.parquet"
    with_doc_identity(corpus_df).write.mode("overwrite").parquet(str(p))
    return str(p)


def test_jobs_end_to_end(corpus_parquet, tmp_path):
    out = tmp_path / "idx_build"
    zip_path = tmp_path / "google_spark.zip"
    subprocess.run(
        [sys.executable, "jobs/make_pyfiles.py", str(zip_path)],
        check=True, cwd=str(ROOT), capture_output=True,
    )
    assert zip_path.exists() and zip_path.stat().st_size > 10_000

    # 1) resumable build, launched via spark-submit --py-files when
    # available (the north-rule launch path), plain python otherwise
    spark_submit = shutil.which("spark-submit")
    if spark_submit:
        build_cmd = [
            spark_submit, "--master", "local[8]",
            "--py-files", str(zip_path),
            "jobs/build_index.py",
        ]
    else:
        build_cmd = [sys.executable, "jobs/build_index.py"]
    build = _run(
        build_cmd
        + [
            "--input", corpus_parquet, "--out", str(out),
            "--text-col", "content", "--n-batches", "2",
            "--n-shards", "4", "--cores", "8",
        ],
        timeout=420,
    )
    assert build["n_docs"] == 300
    assert build["batches"] == 2
    assert build["index_bytes"] > 0
    assert os.path.exists(os.path.join(build["index"], "stats.parquet"))
    # the catalog log is the lineage table: one tagged commit per batch,
    # then the compaction that published build["index"]
    from google_spark.operators.catalog import SnapshotCatalog

    log = SnapshotCatalog(str(out)).log()
    assert [m["operation"] for m in log] == ["overwrite", "append", "compact"]
    assert [m["summary"].get("batch") for m in log[:2]] == [0, 1]
    assert sum(m["summary"]["batch_docs"] for m in log[:2]) == 300
    assert log[-1]["version"] == build["version"]

    # 2) top-k query job against the published index
    q = _run(
        [
            sys.executable, "jobs/query_topk.py",
            "--index", build["index"],
            "--query", "data partition", "-k", "5", "--cores", "8",
        ]
    )
    assert q["engine"] == "wand" and len(q["results"]) == 5
    assert q["results"][0]["score"] >= q["results"][-1]["score"]

    # 3) PageRank job materializes the rank table (D14)
    pr_out = tmp_path / "ranks.parquet"
    pr = _run(
        [
            sys.executable, "jobs/pagerank_job.py",
            "--input", corpus_parquet, "--out", str(pr_out),
            "--content-col", "content", "--cores", "8",
        ]
    )
    assert pr["n_edges"] > 0 and pr["n_nodes"] > 0
    assert pr_out.exists()


def test_catalog_job_lifecycle(spark, corpus_parquet, tmp_path):
    """jobs/catalog_job.py drives the snapshot catalog's maintenance
    surface as subprocesses: publish -> delete -> compact -> expire -> log,
    each emitting a JSON line with the committed version + head summary."""
    root = str(tmp_path / "cat_root")
    pub = _run(
        [
            sys.executable, "jobs/catalog_job.py", "--root", root,
            "--cores", "8", "publish",
            "--input", corpus_parquet, "--text-col", "content",
        ],
        timeout=420,
    )
    assert pub["version"] == 1 and pub["head_summary"]["n_docs"] == 300

    victims = [
        r["doc_id"]
        for r in spark.read.parquet(corpus_parquet).select("doc_id").limit(5).collect()
    ]
    dele = _run(
        [
            sys.executable, "jobs/catalog_job.py", "--root", root,
            "--cores", "8", "delete", "--ids", ",".join(map(str, victims)),
        ]
    )
    assert dele["version"] == 2 and dele["head_summary"]["n_deletes"] == 5

    comp = _run(
        [
            sys.executable, "jobs/catalog_job.py", "--root", root,
            "--cores", "8", "compact",
        ],
        timeout=420,
    )
    assert comp["version"] == 3 and comp["head_summary"]["n_docs"] == 295
    assert comp["head_summary"]["n_deletes"] == 0

    rb = _run(
        [
            sys.executable, "jobs/catalog_job.py", "--root", root,
            "rollback", "--to", "2",
        ]
    )
    assert rb["version"] == 4 and rb["head_summary"]["n_deletes"] == 5
    rb2 = _run(
        [
            sys.executable, "jobs/catalog_job.py", "--root", root,
            "rollback", "--to", "3",
        ]
    )
    assert rb2["version"] == 5 and rb2["head_summary"]["n_deletes"] == 0

    exp = _run(
        [
            sys.executable, "jobs/catalog_job.py", "--root", root,
            "--cores", "8", "expire", "--keep", "1",
        ]
    )
    assert exp["version"] == 5 and exp["removed"]

    log = _run([sys.executable, "jobs/catalog_job.py", "--root", root, "log"])
    assert [h["version"] for h in log["history"]] == [5]


def test_trigram_job_lifecycle(spark, corpus_parquet, tmp_path):
    """jobs/trigram_job.py drives the code-search index lifecycle as
    subprocesses: build -> append -> search -> grep -> compact, each
    emitting one JSON line."""
    root = str(tmp_path / "tri_root")
    built = _run(
        [
            sys.executable, "jobs/trigram_job.py", "--root", root,
            "--cores", "8", "build",
            "--input", corpus_parquet, "--text-col", "content",
        ],
        timeout=420,
    )
    assert built["n_docs"] == 300

    app = _run(
        [
            sys.executable, "jobs/trigram_job.py", "--root", root,
            "--cores", "8", "append",
            "--input", corpus_parquet, "--text-col", "content",
        ],
        timeout=420,
    )
    assert app["segment"] == 1 and app["segments"] == [1]

    hits = _run(
        [
            sys.executable, "jobs/trigram_job.py", "--root", root,
            "--cores", "8", "search",
            "--pattern", r"def open_[a-z_]+",
            "--docs", corpus_parquet, "--text-col", "content",
            "--limit", "5",
        ],
        timeout=420,
    )
    assert hits["results"] and all(
        r["match"].startswith("def open_") for r in hits["results"]
    )

    grep = _run(
        [
            sys.executable, "jobs/trigram_job.py", "--root", root,
            "--cores", "8", "grep",
            "--pattern", r"def open_[a-z_]+",
            "--docs", corpus_parquet, "--text-col", "content",
            "--limit", "3",
        ],
        timeout=420,
    )
    assert grep["results"] and all(r["line_no"] >= 1 for r in grep["results"])

    dest = str(tmp_path / "tri_compacted")
    comp = _run(
        [
            sys.executable, "jobs/trigram_job.py", "--root", root,
            "--cores", "8", "compact", "--dest", dest,
        ],
        timeout=420,
    )
    assert comp["n_docs"] == 600  # base 300 + appended 300 (plumbing test)


def test_crawl_job_lifecycle(spark, tmp_path):
    """jobs/crawl_job.py as a subprocess: crawl a small parquet web
    snapshot, write the crawl table + per-round metrics, then resume from
    the state dir without re-fetching (the reference's persistent
    urlFrontier, Crawler.java:72-87)."""
    web_rows = [
        (
            "http://a.com:80/robots.txt", 200, None, "text/plain", None,
            "User-agent: *\nDisallow: /secret",
        ),
    ] + [
        (
            f"http://a.com:80/p{i}", 200, None, "text/html", None,
            f'<html lang="en"><body>w{i} '
            f'<a href="/p{(i + 1) % 12}">x</a>'
            f'<a href="/p{(2 * i + 3) % 12}">y</a></body></html>',
        )
        for i in range(12)
    ]
    web_path = tmp_path / "web.parquet"
    spark.createDataFrame(
        web_rows,
        "url string, status int, location string, content_type string, "
        "content_language string, content string",
    ).write.mode("overwrite").parquet(str(web_path))

    out = tmp_path / "crawl_out"
    metrics = tmp_path / "crawl_metrics"
    state = tmp_path / "crawl_state"
    res = _run(
        [
            sys.executable, "jobs/crawl_job.py",
            "--web", str(web_path), "--out", str(out),
            "--seed", "http://a.com/p0",
            "--max-rounds", "8",
            "--state-dir", str(state),
            "--metrics-out", str(metrics),
        ]
    )
    assert res["job"] == "crawl" and res["n_crawled"] > 1
    got = spark.read.parquet(str(out))
    assert got.count() == res["n_crawled"]
    m = spark.read.parquet(str(metrics))
    assert m.agg({"n_recorded": "sum"}).collect()[0][0] == res["n_crawled"]
    # resume with more rounds continues from committed state (same set
    # here since the crawl already drained its frontier)
    res2 = _run(
        [
            sys.executable, "jobs/crawl_job.py",
            "--web", str(web_path), "--out", str(tmp_path / "crawl_out2"),
            "--seed", "http://a.com/p0",
            "--max-rounds", "10",
            "--state-dir", str(state), "--resume",
            "--metrics-out", str(tmp_path / "crawl_metrics2"),
        ]
    )
    assert res2["n_crawled"] == res["n_crawled"]
