"""PageRank link signal over repo-import graphs (SURVEY.md §2.3 D11-D14).

The reference extracts ``<a href>`` links from crawled HTML and iterates a
Flame foldByKey loop over CSV-encoded rank state (ref:
src/cis5550/jobs/PageRank.java:114-224). For the source-code corpus the link
graph is the repo *import* graph: ``import org3_repo7`` in a file of
``org1/repo2`` is an edge ``org1/repo2 -> org3/repo7``.

Spark-first restatement:
- edge extraction is a single JVM-side ``regexp_extract_all`` + ``explode``
  (no Python in the hot path), followed by a left-semi join against known
  repos — the DataFrame analog of the reference's ``getRow != null`` check
  (ref: src/cis5550/jobs/PageRank.java:153);
- the iteration is a driver-controlled loop of
  ``edges ⋈ ranks → groupBy(dst).sum → 0.15 + 0.85·Σ`` with the reference's
  exact semantics: init 1.0 (PageRank.java:140), damping 0.85 / teleport
  0.15 (PageRank.java:175,192), sinks receive-but-don't-contribute (the
  self-entry-0.0 trick at PageRank.java:165-178 becomes a left join that
  keeps every node alive), convergence = fraction of nodes with
  |rc − rp| < threshold (PageRank.java:204-222);
- each iteration ``localCheckpoint``s the rank table so lineage stays O(1)
  and the shuffle plan is identical every round — at 10^12 edges the loop
  is bounded by one shuffle per iteration on (src) plus one on (dst), with
  AQE handling skewed hub nodes.
"""

from __future__ import annotations

from typing import TYPE_CHECKING

if TYPE_CHECKING:
    from pyspark.sql import DataFrame

DAMPING = 0.85
TELEPORT = 0.15

# ``(?m)`` multi-line: one import statement per line, python/go/java-ish.
IMPORT_RE = r"(?m)^\s*import\s+([A-Za-z_][A-Za-z0-9_]*)\s*$"


def extract_import_edges(
    source_files: DataFrame,
    repo_col: str = "repo",
    content_col: str = "content",
) -> DataFrame:
    """(repo, content) -> distinct edges (src, dst), self-loops removed,
    targets restricted to repos present in the corpus.

    Module names are ``org_repo`` (first ``_`` separates org from repo); the
    inverse mapping is a one-shot JVM regexp. Everything is JVM-side: scan ->
    regexp_extract_all -> explode -> semi join; Catalyst prunes ``content``
    out of every post-extract exchange.
    """
    from pyspark.sql import functions as F

    modules = F.regexp_extract_all(F.col(content_col), F.lit(IMPORT_RE), 1)
    edges = (
        source_files.select(
            F.col(repo_col).alias("src"), F.explode(modules).alias("dst_module")
        )
        .withColumn(
            "dst", F.regexp_replace(F.col("dst_module"), r"^([^_]*)_", r"$1/")
        )
        .drop("dst_module")
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    repos = source_files.select(F.col(repo_col).alias("dst")).distinct()
    # getRow != null analog: only keep edges into crawled/known repos.
    return edges.join(repos, "dst", "left_semi").select("src", "dst")


def pagerank(
    edges: DataFrame,
    damping: float = DAMPING,
    threshold: float = 1e-4,
    fraction: float = 1.0,
    max_iter: int = 50,
    exact_iters: int | None = None,
    nodes: DataFrame | None = None,
    checkpoint_interval: int = 4,
    personalization: DataFrame | None = None,
) -> DataFrame:
    """DataFrame[node, rank] with the reference's update rule.

    ``exact_iters`` forces a fixed number of iterations (no convergence
    checks), so the result can be compared with an oracle run for the
    same number of rounds (tests/test_pagerank.py).

    ``personalization`` (node, weight) switches to topic-sensitive
    PageRank (Haveliwala 2002, public): the teleport mass lands on the
    seed nodes in proportion to their weights instead of uniformly —
    rank = (1-d)·tele(node) + d·Σ shares, with tele scaled so its mean
    over the graph's nodes is 1 (uniform seeds over all nodes therefore
    recover the classic rule EXACTLY, keeping the reference's
    un-normalized 0.15 + 0.85·Σ convention). Seeds outside the graph are
    ignored; ranks start at tele. One extra broadcast-sized join per
    iteration on the node grain — the per-iteration shuffle count is
    unchanged."""
    from pyspark.sql import functions as F

    spark = edges.sparkSession
    if nodes is None:
        nodes = (
            edges.select(F.col("src").alias("node"))
            .union(edges.select(F.col("dst").alias("node")))
            .distinct()
        )
    nodes = nodes.persist()
    deg = edges.groupBy("src").agg(F.count("*").alias("deg"))
    # Pre-join degree once; the per-iteration join is then rank-only. Lazy
    # persist — the first iteration materializes it, no extra warm-up job.
    edges_deg = edges.join(deg, "src").persist()

    if personalization is not None:
        # sum duplicate seed rows (a union of topic lists may repeat a
        # node): without the groupBy the nodes left-join below would fan
        # out one rank row PER duplicate, double-counting that node's
        # outgoing mass every iteration
        p = (
            personalization.select(
                "node", F.col("weight").cast("double").alias("weight")
            )
            .groupBy("node")
            .agg(F.sum("weight").alias("weight"))
            .join(nodes, "node", "left_semi")
        )
        tot = p.agg(F.sum("weight").alias("s")).collect()[0]["s"]
        if not tot or tot <= 0:
            raise ValueError(
                "personalization needs positive total weight on graph nodes"
            )
        scale = nodes.count() / float(tot)
        base = nodes.join(p, "node", "left").select(
            "node",
            (
                F.coalesce(F.col("weight"), F.lit(0.0)) * F.lit(scale)
            ).alias("tele"),
        )
    else:
        base = nodes.withColumn("tele", F.lit(1.0))
    base = base.persist()

    ranks = base.select("node", F.col("tele").alias("rank")).localCheckpoint()
    # n_nodes only gates convergence; fixed-iteration mode skips the job
    n_nodes = nodes.count() if exact_iters is None else 0
    n_rounds = exact_iters if exact_iters is not None else max_iter
    for it in range(n_rounds):
        contrib = (
            edges_deg.join(ranks, edges_deg.src == ranks.node)
            .select("dst", (F.col("rank") / F.col("deg")).alias("share"))
            .groupBy("dst")
            .agg(F.sum("share").alias("contrib"))
        )
        new_ranks = base.join(contrib, base.node == contrib.dst, "left").select(
            "node",
            (
                F.lit(1.0 - damping) * F.col("tele")
                + F.lit(damping) * F.coalesce(F.col("contrib"), F.lit(0.0))
            ).alias("rank"),
        )
        # Truncate lineage every few iterations (every one is wasteful; an
        # unbounded chain re-plans quadratically). The convergence path
        # checkpoints implicitly by collecting through the comparison.
        if (it + 1) % checkpoint_interval == 0 or it == n_rounds - 1:
            new_ranks = new_ranks.localCheckpoint()
        if exact_iters is None:
            converged = (
                new_ranks.alias("n")
                .join(ranks.alias("o"), F.col("n.node") == F.col("o.node"))
                .agg(
                    F.sum(
                        (
                            F.abs(F.col("n.rank") - F.col("o.rank"))
                            < F.lit(threshold)
                        ).cast("long")
                    ).alias("c")
                )
                .collect()[0]["c"]
            )
            ranks = new_ranks
            if n_nodes and (converged or 0) / n_nodes >= fraction:
                break
        else:
            ranks = new_ranks
    edges_deg.unpersist()
    nodes.unpersist()
    base.unpersist()
    return ranks


def synthetic_doc_graph(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Deterministic test graph over an arbitrary doc table: each doc links
    to ``(doc_id*17 + k) mod N`` for k in (1, 5, 11), self-loops dropped.
    Any engine can reproduce the exact same edges from doc ids alone, so
    it needs no import statements in the corpus."""
    from pyspark.sql import functions as F

    n = docs.count()
    ks = docs.sparkSession.createDataFrame([(1,), (5,), (11,)], "k int")
    return (
        docs.select(F.col(id_col).alias("src"))
        .crossJoin(F.broadcast(ks))
        .select("src", ((F.col("src") * 17 + F.col("k")) % n).alias("dst"))
        .filter(F.col("src") != F.col("dst"))
    )


# per-line variant of IMPORT_RE (the line is already split out, so no
# multi-line flag; same grammar)
IMPORT_LINE_RE = r"^\s*import\s+([A-Za-z_][A-Za-z0-9_]*)\s*$"


def anchor_texts(
    source_files: DataFrame,
    repo_col: str = "repo",
    content_col: str = "content",
    context_lines: int = 1,
) -> DataFrame:
    """In-link context aggregation — the code-search analog of web anchor
    text (the reference ranks on link structure via PageRank; web engines
    additionally score the TEXT of referring links, ref:
    src/cis5550/jobs/RankScore.java's rank blend). For every import
    statement, the LITERAL ``context_lines`` lines directly above it
    (typically the comment explaining WHY the dependency is used) are
    attributed to the imported module — a blank line immediately above
    contributes nothing; the scan does NOT skip upward hunting for prose.
    Per module this returns

        (dst, anchor_text, n_refs)

    with ``anchor_text`` the trimmed non-empty context of ALL referring
    sites corpus-wide, concatenated in (referrer, line position) order,
    and ``n_refs`` the number of contributing import SITES (a site whose
    window spans several lines still counts once). Feed it to
    :func:`~google_spark.operators.fielded.build_fielded_index` as an
    ``extra_fields`` entry to make referring-site vocabulary searchable
    with its own BM25F weight — documents become findable by what OTHERS
    say about them, the classic anchor-text win.

    ``dst`` is the raw imported module name (the same token
    :func:`extract_import_edges` extracts); mapping modules onto repo/doc
    ids is the caller's join, exactly as for the import graph.

    Scale shape (100 TB): the line/previous-line pairing is built
    SCAN-SIDE by zipping the line array with shifted copies of itself
    (no window function, no per-doc shuffle); import lines filter
    before any exchange; the only shuffle is the final hash aggregate
    on the module key with map-side partial aggregation (a module
    imported by a billion files still pre-aggregates per task — though
    the concatenated anchor state for such a module is itself large;
    cap upstream via sampling if a corpus has degenerate hubs).
    """
    from pyspark.sql import functions as F

    lines = F.split(F.col(content_col), "\n")
    shifted = [
        F.concat(
            F.array(*[F.lit(None).cast("string")] * j),
            F.slice(lines, 1, F.greatest(F.size(lines) - j, F.lit(0))),
        ).alias(f"_at_prev{j}")
        for j in range(1, int(context_lines) + 1)
    ]
    zipped = F.arrays_zip(lines.alias("_at_line"), *shifted)
    rows = source_files.select(
        F.col(repo_col).alias("src"),
        F.posexplode(zipped).alias("pos", "_at_z"),
    ).select(
        "src",
        F.col("pos").cast("long").alias("pos"),
        F.regexp_extract(
            F.col("_at_z._at_line"), IMPORT_LINE_RE, 1
        ).alias("dst"),
        F.concat_ws(
            " ",
            *[
                F.trim(F.col(f"_at_z._at_prev{j}"))
                # oldest-first so the context reads in document order
                for j in range(int(context_lines), 0, -1)
            ],
        ).alias("_at_ctx"),
    )
    hits = rows.filter(
        (F.col("dst") != "") & (F.trim(F.col("_at_ctx")) != "")
    )
    pieces = F.array_sort(
        F.collect_list(F.struct("src", "pos", F.trim("_at_ctx").alias("c")))
    )
    return hits.groupBy("dst").agg(
        F.array_join(
            F.transform(pieces, lambda x: x["c"]), " "
        ).alias("anchor_text"),
        F.count(F.lit(1)).alias("n_refs"),
    )


def extract_href_edges(
    crawled: DataFrame,
    url_col: str = "url",
    page_col: str = "page",
) -> DataFrame:
    """``<a href>`` link-graph edges from crawler output — the reference
    PageRank's extraction over crawled pages (ref: src/cis5550/jobs/
    PageRank.java:133-160): hrefs are normalized against the page URL,
    self-links and duplicates dropped, and targets restricted to pages
    that were actually crawled (``getRow != null`` at PageRank.java:153
    ≡ left-semi join). Returns DataFrame[src, dst]. Same scale shape as
    :func:`extract_import_edges` — scan -> JVM regexp -> explode -> Arrow
    normalize kernel -> semi join, with ``page`` pruned out of every
    post-extract exchange."""
    from pyspark.sql import functions as F

    from google_spark.operators.crawler import extract_links_flat

    pages = crawled.filter(F.col(page_col).isNotNull())
    if url_col != "url":
        pages = pages.withColumnRenamed(url_col, "url")
    edges = (
        extract_links_flat(pages, url_col="url", content_col=page_col)
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    known = crawled.select(F.col(url_col).alias("dst")).distinct()
    return edges.join(known, "dst", "left_semi").select("src", "dst")
