"""Tokenization kernels.

Replaces the reference's per-row Java tokenizer (``\\b\\w+\\b`` word regex,
1-based positions, drop tokens of length <=1 or >40 — ref:
src/cis5550/jobs/Indexer.java:152-165) with batch-at-a-time Python functions
designed to run inside Arrow-batched pandas UDFs / ``mapInPandas``.

Two modes:

- ``simple``: lowercase, extract ``[a-z0-9]+`` runs, keep length in [2, 40].
  This mode is exactly expressible in ANSI SQL, so any engine can replay
  it: ``list_filter(regexp_extract_all(lower(text), '[a-z0-9]+'), t ->
  len(t) BETWEEN 2 AND 40)`` (checked by
  tests/test_tokenizer.py::test_simple_basic).
- ``code``: identifier-aware — splits snake_case and camelCase identifiers
  into subtokens (the source-code analog of the reference's HTML strip, ref:
  src/cis5550/jobs/Indexer.java:92-140), then the same length filter.

Optional Porter stemming indexes the stem alongside the original token at the
same position when they differ (ref: src/cis5550/jobs/Indexer.java:170-179).

Positions are 1-based indexes over the *filtered* token sequence.
"""

from __future__ import annotations

import re

from google_spark.functions.stemmer import stem as porter_stem

MIN_TOKEN_LEN = 2
MAX_TOKEN_LEN = 40

_SIMPLE_RE = re.compile(r"[a-z0-9]+")
_RAW_RE = re.compile(r"[A-Za-z0-9_]+")
# Alternation order matters: try Uppercase-then-lower/digit first so "X86"
# stays one token (x86), then acronym runs ("HTTP" of "HTTPServer"), then
# plain lower/digit runs. This order is exactly reproducible with two
# regexp_replace passes in SQL (see the tokenize_code_tf oracle).
_CAMEL_RE = re.compile(
    r"[A-Z][a-z0-9]+|[A-Z]+(?![a-z])|[a-z0-9]+"
)


def _keep(tok: str) -> bool:
    return MIN_TOKEN_LEN <= len(tok) <= MAX_TOKEN_LEN


def tokenize_simple(text: str) -> list[str]:
    """Lowercase alnum-run tokens, length-filtered. SQL-parity mode."""
    if not text:
        return []
    return [t for t in _SIMPLE_RE.findall(text.lower()) if _keep(t)]


def tokenize_code(text: str) -> list[str]:
    """Identifier-aware tokens: snake_case/camelCase split, lowercased,
    length-filtered. ``parseJsonFile`` -> ``parse json file``."""
    if not text:
        return []
    out: list[str] = []
    for raw in _RAW_RE.findall(text):
        for part in raw.split("_"):
            if not part:
                continue
            if part.islower() or part.isdigit():
                if _keep(part):
                    out.append(part)
            else:
                for sub in _CAMEL_RE.findall(part):
                    sub = sub.lower()
                    if _keep(sub):
                        out.append(sub)
    return out


def tokenize(text: str, mode: str = "simple", stem: bool = False) -> list[tuple[str, int]]:
    """Return [(term, 1-based position)]. With ``stem=True`` a differing
    Porter stem is emitted at the same position as its source token."""
    toks = tokenize_simple(text) if mode == "simple" else tokenize_code(text)
    out: list[tuple[str, int]] = []
    for i, tok in enumerate(toks, start=1):
        out.append((tok, i))
        if stem:
            s = porter_stem(tok)
            if s != tok and _keep(s):
                out.append((s, i))
    return out


def doc_length(text: str, mode: str = "simple") -> int:
    """BM25 ``dl``: count of filtered tokens (stems excluded — they share
    positions and must not inflate length)."""
    toks = tokenize_simple(text) if mode == "simple" else tokenize_code(text)
    return len(toks)
