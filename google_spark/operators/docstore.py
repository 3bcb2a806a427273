"""Document store: the ``urlpages`` analog (SURVEY.md §1.1 derived doc
store; ref: src/cis5550/jobs/Indexer.java:135-138 builds a rowKey->(title,
tag-stripped content) table used by title boosts, ref:
src/cis5550/jobs/RankScore.java:51-60, and snippets, ref:
src/cis5550/jobs/SearchApi.java:330-377).

Source-code restatement: the "title" of a code file is its first non-empty
line with leading comment markers stripped (a file docstring / license
header / top-level declaration), truncated to 80 chars; the "cleaned
content" is the text with carriage returns normalized away (the HTML-strip
half of D1 is the code-aware tokenizer — there are no tags to strip in
source files).

Everything is JVM-side expressions (split / filter / regexp_replace inside
whole-stage codegen — no Python in the path) and exactly reproducible in
ANSI SQL.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

TITLE_MAX_LEN = 80
# leading whitespace + common comment-marker characters to strip from the
# first non-empty line (#, //, /*, *, ", ', =, -)
_TITLE_STRIP_RE = "^[\\s#/*\"'=-]+"


def title_col(text_col: Column | str = "text") -> Column:
    """First non-empty line, comment markers stripped, trimmed, truncated
    to TITLE_MAX_LEN; '' when the document has no non-empty line."""
    # F.get is null-safe on empty arrays (element_at raises in Spark 4)
    first = F.get(
        F.filter(
            F.split(F.col(text_col) if isinstance(text_col, str) else text_col, "\n"),
            lambda x: F.trim(x) != "",
        ),
        0,
    )
    stripped = F.trim(F.regexp_replace(F.coalesce(first, F.lit("")), _TITLE_STRIP_RE, ""))
    return F.substring(stripped, 1, TITLE_MAX_LEN)


def content_clean_col(text_col: Column | str = "text") -> Column:
    """CRLF-normalized content for snippets (the tag-stripped-page analog)."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.regexp_replace(c, "\r", "")


def build_docstore(
    source_files: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "content",
) -> DataFrame:
    """DataFrame[doc_id, title, content_clean] — the ``urlpages`` analog.
    A pure projection (no shuffle); persist it partitioned by doc_id range
    alongside the index for serve-time point lookups."""
    return source_files.select(
        F.col(id_col).alias("doc_id"),
        title_col(text_col).alias("title"),
        content_clean_col(text_col).alias("content_clean"),
    )


# definition-keyword grammar shared across the languages the corpus
# carries (python def/class, go func, rust fn/struct/trait, js function,
# java-ish interface) — deliberately line-anchored and keyword-explicit so
# the same regex is exactly reproducible by any regex engine (checked by
# tests/test_docstore.py::test_extract_symbols_grammar)
SYMBOL_RE = (
    r"^\s*(def|class|func|fn|function|struct|interface|trait)"
    r"\s+([A-Za-z_][A-Za-z0-9_]*)"
)


def extract_symbols(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """The go-to-definition table: ``(id, line_no, kind, symbol)`` for
    every line that DEFINES a named symbol (``def``/``class``/``func``/
    ``fn``/``function``/``struct``/``interface``/``trait`` followed by an
    identifier), 0-based line numbers. This is the code-search structural
    complement of the token index: the word index finds every MENTION of
    a name, this table finds where it is introduced — the reference has
    no analog (its corpus is web pages), but no code-search engine ships
    without one.

    Scale shape: pure scan-side work — split, posexplode, one JVM regexp
    evaluated twice for the two capture groups, filter — with NO exchange
    at all; whatever the caller does next (aggregate, join to PageRank,
    write) sees a definition table ~10^3 times smaller than the corpus.
    """
    rows = docs.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), "\n")).alias(
            "line_no", "_sym_line"
        ),
    )
    return rows.select(
        F.col(id_col),
        F.col("line_no").cast("long").alias("line_no"),
        F.regexp_extract("_sym_line", SYMBOL_RE, 1).alias("kind"),
        F.regexp_extract("_sym_line", SYMBOL_RE, 2).alias("symbol"),
    ).filter((F.col("kind") != "") & (F.col("symbol") != ""))


def symbol_search(
    symbols: DataFrame,
    query: str,
    k: int = 10,
    prefix: bool = False,
    id_col: str = "doc_id",
) -> DataFrame:
    """Definition lookup over an :func:`extract_symbols` table: exact
    (or ``prefix=True``) identifier match, rarest-symbol-first —
    ``n_defs`` counts the symbol's definition sites corpus-wide, so a
    name defined once (the thing you actually want to jump to) outranks
    boilerplate names defined everywhere (``main``, ``test``). Ties and
    sites order deterministically by (symbol, id, line). Returns
    ``(symbol, kind, n_defs, <id>, line_no)`` rows, ``k`` sites total.

    Scale shape: the match predicate prunes FIRST (an equality — or
    StartsWith, both pushable to a parquet scan of a materialized symbol
    table), then one hash aggregate on the surviving symbol names
    (candidate-sized, not corpus-sized) rejoined to the sites.
    """
    pred = (
        F.col("symbol").startswith(query) if prefix
        else F.col("symbol") == F.lit(query)
    )
    hits = symbols.filter(pred)
    counts = hits.groupBy("symbol").agg(F.count(F.lit(1)).alias("n_defs"))
    return (
        hits.join(counts, "symbol")
        .orderBy("n_defs", "symbol", id_col, "line_no")
        .select("symbol", "kind", "n_defs", id_col, "line_no")
        .limit(int(k))
    )


# ---------------------------------------------------------------------------
# HTML half of D1 (ref: src/cis5550/jobs/Indexer.java:92-133): the reference
# strips DOCTYPE declarations and comments, lowercases, walks tags replacing
# each with a space (capturing the first <title> body as the page title),
# and feeds the remainder to the word splitter. Used on crawler output
# (operators/crawler.py), where documents are real HTML pages rather than
# source files. Pure JVM regexp chain, exactly reproducible in ANSI SQL.
# ---------------------------------------------------------------------------

_HTML_NOISE_RE = r"(?s)(<!DOCTYPE[^>]*>|<!--.*?-->)"
_HTML_TAG_RE = "<[^>]*>"
_HTML_TITLE_RE = r"(?s)<title[^>]*>(.*?)<"


def html_text_col(content_col: Column | str = "page") -> Column:
    """Tag-stripped, lowercased page text ready for tokenization — the
    reference's comment-strip -> toLowerCase -> tag-to-space walk
    (Indexer.java:93-133; DOCTYPE is matched before lowercasing, as the
    reference does)."""
    c = F.col(content_col) if isinstance(content_col, str) else content_col
    c = F.regexp_replace(c, _HTML_NOISE_RE, " ")
    c = F.lower(c)
    return F.regexp_replace(c, _HTML_TAG_RE, " ")


def html_title_col(content_col: Column | str = "page") -> Column:
    """First <title> body of the (lowercased, comment-stripped) page,
    trimmed — the reference captures it mid-walk (Indexer.java:114-127);
    '' when the page has no title tag."""
    c = F.col(content_col) if isinstance(content_col, str) else content_col
    c = F.lower(F.regexp_replace(c, _HTML_NOISE_RE, " "))
    return F.trim(F.regexp_extract(c, _HTML_TITLE_RE, 1))


def split_chunks(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, chunk_id, start_line, end_line, kind, symbol, chunk_text):
    each file split at its symbol-definition boundaries (the
    :data:`SYMBOL_RE` grammar of :func:`extract_symbols`) — the
    function/class-grain view of a code corpus that finer-than-file
    dedup, retrieval, and training-unit selection need. Chunk 0 is the
    preamble (imports, license header — anything before the first
    definition; absent when the file starts with one); every other chunk
    starts AT a definition line and carries that line's kind/symbol.
    Line numbers are 0-based and inclusive; a file with no definitions is
    one chunk 0 with symbol ''. Chunk text joins the original lines with
    '\\n' (no trailing-newline invention: split+join is lossless for the
    lines in between).

    Scale shape: lines posexplode scan-side; chunk membership is ONE
    running-sum window per doc (the only exchange, keyed on id) and the
    chunk rebuild groups on (id, chunk_id) — a subset-key aggregate that
    reuses the window's partitioning, so rows shuffle exactly once. The
    per-chunk state is bounded by file size; sort_array puts lines back
    in order without a global sort."""
    from pyspark.sql import Window

    rows = docs.select(
        F.col(id_col),
        F.posexplode(
            F.split(F.coalesce(F.col(text_col), F.lit("")), "\n")
        ).alias("line_no", "_line"),
    ).withColumn(
        "_is_def",
        (F.regexp_extract("_line", SYMBOL_RE, 1) != "").cast("long"),
    )
    w = (
        Window.partitionBy(id_col)
        .orderBy("line_no")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    marked = rows.withColumn("chunk_id", F.sum("_is_def").over(w))
    agg = (
        marked.groupBy(id_col, "chunk_id")
        .agg(
            F.min("line_no").alias("start_line"),
            F.max("line_no").alias("end_line"),
            F.array_join(
                F.transform(
                    F.sort_array(
                        F.collect_list(F.struct("line_no", "_line"))
                    ),
                    lambda s: s["_line"],
                ),
                "\n",
            ).alias("chunk_text"),
            # the defining line is the chunk's FIRST line (chunk 0 has none)
            F.min_by("_line", "line_no").alias("_head"),
        )
    )
    return agg.select(
        F.col(id_col),
        F.col("chunk_id").cast("long").alias("chunk_id"),
        F.col("start_line").cast("long").alias("start_line"),
        F.col("end_line").cast("long").alias("end_line"),
        F.when(
            F.col("chunk_id") > 0, F.regexp_extract("_head", SYMBOL_RE, 1)
        ).otherwise(F.lit("")).alias("kind"),
        F.when(
            F.col("chunk_id") > 0, F.regexp_extract("_head", SYMBOL_RE, 2)
        ).otherwise(F.lit("")).alias("symbol"),
        "chunk_text",
    )
