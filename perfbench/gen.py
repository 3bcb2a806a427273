"""Seeded input generator for the benchmark: corpus, query logs, ingest batches.

Everything the program under test receives is made here from one integer seed,
so the same seed always yields byte-identical inputs and a change to the
program cannot change the workload. Pure NumPy/stdlib; no Spark, no import of
the program.

Corpus shape is the ``(doc_id, repo, path, lang, content)`` source-file table:

- body words drawn Zipf(s=1.0) from a ~50 000-word vocabulary of alphabetic
  pseudo-words (never a stopword, never the hot term, never a marker);
- a hot term (``data``) planted in ~60% of documents;
- Zipf-sized repos ``orgO/repoR`` whose files carry ``import orgO_repoR`` lines.
  Repos sit in three layers and import only deeper layers, so the import graph
  is a DAG (as dependency graphs are) and PageRank converges in a few rounds;
- planted three-word phrases and five languages.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

HOT_TERM = "data"
LANGS = ("py", "java", "js", "go", "md")
LANG_WEIGHTS = (0.35, 0.2, 0.2, 0.15, 0.1)
VOCAB_SIZE = 50_000
ZIPF_S = 1.0
HOT_DF = 0.6
N_PHRASES = 64
PHRASE_RATE = 0.3
REPO_LAYERS = 3
WORDS_PER_LINE = 12
# letters of generated vocabulary words; absent-term queries use only letters
# outside this set, so they can never match a corpus token
_CONSONANTS = "bdfgklmnprstvz"
_VOWELS = "aeiou"
_ABSENT_LETTERS = "cjqwxy"
_STOPWORDS = frozenset(
    "a an and are as at be by for from has he in is it its of on that the to "
    "was were will with this these those i you we they our your".split()
)


def vocabulary(size: int = VOCAB_SIZE) -> list[str]:
    """``size`` distinct consonant-vowel pseudo-words (2 then 3 syllables),
    fixed across seeds; the seed only decides their Zipf ranks."""
    syl = [c + v for c in _CONSONANTS for v in _VOWELS]
    words = [a + b for a in syl for b in syl]
    words += [a + b + c for a in syl for b in syl for c in syl]
    bad = _STOPWORDS | {HOT_TERM}
    out = [w for w in words if w not in bad]
    if len(out) < size:
        raise ValueError(f"vocabulary supports at most {len(out)} words")
    return out[:size]


@dataclass
class Corpus:
    """Generated documents plus the per-term document frequencies the query
    generator needs to pick head, mid and tail terms."""

    doc_id: list[int]
    repo: list[str]
    path: list[str]
    lang: list[str]
    content: list[str]
    words: list[str]  # vocabulary, indexed by term id
    df: np.ndarray  # df per vocabulary term id (body + title words)
    bigrams: list[tuple[str, str]]  # one adjacent body-word pair per doc

    def __len__(self) -> int:
        return len(self.doc_id)

    def rows(self) -> list[tuple]:
        return list(zip(self.doc_id, self.repo, self.path, self.lang, self.content))

    def n_bytes(self) -> int:
        return sum(len(c.encode("utf-8")) for c in self.content)


def _zipf_probs(n: int, s: float) -> np.ndarray:
    p = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** s
    return p / p.sum()


def _repos(n_repos: int) -> list[str]:
    return [f"org{i % 7}/repo{i}" for i in range(n_repos)]


class CorpusGen:
    """Document factory for one seed: the base corpus and every ingest batch
    come from the same word, repo and phrase distributions."""

    def __init__(self, seed: int, n_repos: int = 60, doc_words: tuple[int, int] = (60, 240)):
        self.rng = np.random.default_rng([seed, 1])
        self.words = vocabulary()
        self.rank_to_word = self.rng.permutation(len(self.words))
        self.cum = np.cumsum(_zipf_probs(len(self.words), ZIPF_S))
        self.repos = _repos(n_repos)
        self.repo_cum = np.cumsum(_zipf_probs(n_repos, 1.0))
        self.layer = [r % REPO_LAYERS for r in range(n_repos)]
        self.doc_words = doc_words
        # planted phrases: three mid-rank words each (ranks 200..5000)
        mid = self.rank_to_word[200:5000]
        self.phrases = [
            tuple(self.words[int(t)] for t in self.rng.choice(mid, 3, replace=False))
            for _ in range(N_PHRASES)
        ]
        self.df = np.zeros(len(self.words), dtype=np.int64)
        self.files_in_repo = [0] * n_repos

    def _draw_terms(self, n: int) -> np.ndarray:
        ranks = np.searchsorted(self.cum, self.rng.random(n), side="right")
        return self.rank_to_word[np.minimum(ranks, len(self.words) - 1)]

    def docs(self, first_id: int, n: int, marker: str | None = None) -> Corpus:
        ids, repos, paths, langs, contents, bigrams = [], [], [], [], [], []
        lo, hi = self.doc_words
        for i in range(n):
            r = int(np.searchsorted(self.repo_cum, self.rng.random(), side="right"))
            r = min(r, len(self.repos) - 1)
            k = self.files_in_repo[r]
            self.files_in_repo[r] += 1
            lang = LANGS[int(np.searchsorted(np.cumsum(LANG_WEIGHTS), self.rng.random()))]
            deeper = [j for j in range(len(self.repos)) if self.layer[j] > self.layer[r]]
            lines = []
            title = self._draw_terms(3)
            lines.append("# " + " ".join(self.words[t] for t in title))
            if deeper:
                for j in self.rng.choice(deeper, int(self.rng.integers(0, 4)), replace=False):
                    lines.append("import " + self.repos[int(j)].replace("/", "_"))
            body_ids = self._draw_terms(int(self.rng.integers(lo, hi + 1)))
            body = [self.words[t] for t in body_ids]
            if self.rng.random() < HOT_DF:
                body.insert(int(self.rng.integers(0, len(body) + 1)), HOT_TERM)
            if self.rng.random() < PHRASE_RATE:
                ph = self.phrases[int(self.rng.integers(0, len(self.phrases)))]
                at = int(self.rng.integers(0, len(body) + 1))
                body[at:at] = list(ph)
            if marker is not None:
                body.insert(int(self.rng.integers(0, len(body) + 1)), marker)
            j = int(self.rng.integers(0, len(body) - 1))
            bigrams.append((body[j], body[j + 1]))
            for s in range(0, len(body), WORDS_PER_LINE):
                lines.append(" ".join(body[s : s + WORDS_PER_LINE]))
            self.df[np.unique(np.concatenate([title, body_ids]))] += 1
            ids.append(first_id + i)
            repos.append(self.repos[r])
            paths.append(f"src/pkg{k % 5}/file{k}.{lang}")
            langs.append(lang)
            contents.append("\n".join(lines))
        return Corpus(ids, repos, paths, langs, contents, self.words, self.df.copy(), bigrams)


def make_corpus(seed: int, n_docs: int) -> tuple[CorpusGen, Corpus]:
    gen = CorpusGen(seed)
    return gen, gen.docs(1, n_docs)


@dataclass(frozen=True)
class Query:
    """One request: the raw query string plus what the checker needs to
    verify a served result independently of the program's parser."""

    text: str
    kind: str
    terms: tuple[str, ...]  # scoring terms, with multiplicity
    phrase: tuple[str, ...] = ()
    exclude: str | None = None
    field: tuple[str, str] | None = None  # ("repo" | "lang", value)


# kind -> share of the cold mix (serve_cold); ingest has no meta table, so
# its mix folds the filter share into multi-term queries
COLD_MIX = {"tail": 0.40, "multi": 0.30, "phrase": 0.10, "exclude": 0.05,
            "filter": 0.10, "absent": 0.05}
INGEST_MIX = {"tail": 0.40, "multi": 0.40, "phrase": 0.10, "exclude": 0.05,
              "absent": 0.05}


class QueryGen:
    """Distinct queries of a given mix over one corpus. ``stream`` selects an
    independent random stream, so warm-up and timed logs never share
    queries."""

    def __init__(self, corpus: Corpus, seed: int, stream: int, used: set[str] | None = None):
        self.c = corpus
        self.rng = np.random.default_rng([seed, 100 + stream])
        self.used = used if used is not None else set()
        n = len(corpus)
        df = corpus.df
        order = np.argsort(-df, kind="stable")
        present = order[df[order] > 0]
        self.head = present[df[present] >= 0.10 * n]
        self.mid = present[(df[present] < 0.10 * n) & (df[present] >= 0.005 * n)]
        self.tail = present[(df[present] <= 10) & (df[present] >= 1)]
        if not len(self.head) or not len(self.mid) or not len(self.tail):
            raise ValueError("corpus too small for the query mix")
        self.head_words = {corpus.words[int(t)] for t in self.head} | {HOT_TERM}
        # docs per repo for filter queries
        self.repo_docs: dict[str, list[int]] = {}
        for i, r in enumerate(corpus.repo):
            self.repo_docs.setdefault(r, []).append(i)

    def _w(self, pool: np.ndarray) -> str:
        return self.c.words[int(pool[int(self.rng.integers(0, len(pool)))])]

    def _one(self, kind: str) -> Query:
        c = self.c
        if kind == "tail":
            t = self._w(self.tail)
            return Query(t, kind, (t,))
        if kind == "multi":
            ts = [self._w(self.head)] + [
                self._w(self.mid if self.rng.random() < 0.5 else self.tail)
                for _ in range(int(self.rng.integers(1, 3)))
            ]
            if len(set(ts)) < len(ts):
                return self._one(kind)
            return Query(" ".join(ts), kind, tuple(ts))
        if kind == "phrase":
            # an adjacent pair from a random document; head words are left
            # out, as quoted phrases are specific, and a phrase of two
            # near-universal words would make this kind's cost swing by seed
            a, b = c.bigrams[int(self.rng.integers(0, len(c.bigrams)))]
            if a == b or a in self.head_words or b in self.head_words:
                return self._one(kind)
            return Query(f'"{a} {b}"', kind, (a, b), phrase=(a, b))
        if kind == "exclude":
            a, b, x = self._w(self.head), self._w(self.mid), self._w(self.mid)
            if len({a, b, x}) < 3:
                return self._one(kind)
            return Query(f"{a} {b} -{x}", kind, (a, b), exclude=x)
        if kind == "filter":
            i = int(self.rng.integers(0, len(c)))
            t = self._w(self.mid if self.rng.random() < 0.5 else self.head)
            if self.rng.random() < 0.5:
                fld = ("repo", c.repo[i])
            else:
                fld = ("lang", c.lang[i])
            return Query(f"{t} {fld[0]}:{fld[1]}", kind, (t,), field=fld)
        if kind == "absent":
            n = int(self.rng.integers(5, 9))
            t = "".join(_ABSENT_LETTERS[int(x)] for x in self.rng.integers(0, 6, n))
            return Query(t, kind, (t,))
        raise ValueError(kind)

    def distinct(self, n: int, mix: dict[str, float]) -> list[Query]:
        kinds = list(mix)
        p = np.array([mix[k] for k in kinds])
        out: list[Query] = []
        tries = 0
        while len(out) < n:
            tries += 1
            if tries > 50 * n + 1000:
                raise ValueError("cannot draw enough distinct queries")
            q = self._one(kinds[int(self.rng.choice(len(kinds), p=p / p.sum()))])
            if q.text not in self.used:
                self.used.add(q.text)
                out.append(q)
        return out


def warmup_queries(qg: "QueryGen", mix: dict[str, float], each: int) -> list[Query]:
    """``each`` distinct queries of every kind in ``mix``, so warm-up reaches
    every lazily initialised path (e.g. the did-you-mean vocabulary that a
    zero-hit query builds) before timing starts."""
    return [q for kind in mix for q in qg.distinct(each, {kind: 1.0})]


def arrivals(rate: float, duration: float, seed: int) -> np.ndarray:
    """Poisson arrival offsets (seconds) at ``rate`` per second."""
    rng = np.random.default_rng([seed, 9])
    gaps = rng.exponential(1.0 / rate, int(rate * duration * 1.5) + 16)
    t = np.cumsum(gaps)
    return t[t < duration]


def marker(seed: int, batch: int) -> str:
    """Unique marker token for an ingest batch (digits keep it disjoint from
    the alphabetic vocabulary)."""
    return f"mk{seed % 100000:05d}b{batch:04d}"
