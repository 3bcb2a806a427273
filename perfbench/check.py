"""Correctness of served results against the pure-Python oracle.

The checker never uses the program's query parser: each generated query
carries its scoring terms and constraints, and every returned result is
verified independently with ``google_spark.oracle.OracleIndex``:

- ``score`` equals the oracle's BM25 over the scoring terms within 1e-6;
- results are ordered by (priority desc, doc_id asc), at most ``k`` of them;
- a quoted phrase occurs consecutively, a ``-term`` is absent, a
  ``repo:``/``lang:`` filter holds, a deleted document is never returned;
- an unconstrained query over terms some live document contains returns
  something, and an absent term returns nothing.
"""

from __future__ import annotations

from gen import Query

TOL = 1e-6


class Checker:
    def __init__(self, docs: list[tuple[int, str]], meta: dict[int, dict] | None = None):
        from google_spark.oracle import OracleIndex

        self.oracle = OracleIndex(docs)
        self.meta = meta or {}

    def bm25(self, terms, doc_id: int) -> float:
        return sum(self.oracle.bm25(t, doc_id) for t in terms)

    def _has_phrase(self, phrase, doc_id: int) -> bool:
        plists = [self.oracle.postings.get(t, {}).get(doc_id) for t in phrase]
        if any(not p for p in plists):
            return False
        starts = set(plists[0])
        for off, pl in enumerate(plists[1:], start=1):
            starts &= {p - off for p in pl}
        return bool(starts)

    def results(self, q: Query, rows: list[dict], k: int, deleted=frozenset()) -> list[str]:
        """Mismatch descriptions for one served page (empty when correct).
        ``rows`` are dicts with doc_id, score and priority."""
        errs = []
        if len(rows) > k:
            errs.append(f"{q.text!r}: {len(rows)} results > k={k}")
        keys = [(-r["priority"], r["doc_id"]) for r in rows]
        if keys != sorted(keys):
            errs.append(f"{q.text!r}: not ordered by (priority desc, doc_id asc)")
        for r in rows:
            d = int(r["doc_id"])
            want = self.bm25(q.terms, d)
            if abs(r["score"] - want) > TOL:
                errs.append(f"{q.text!r}: doc {d} score {r['score']!r} != oracle {want!r}")
            if d in deleted:
                errs.append(f"{q.text!r}: deleted doc {d} returned")
            if q.phrase and not self._has_phrase(q.phrase, d):
                errs.append(f"{q.text!r}: doc {d} lacks the phrase")
            if q.exclude and d in self.oracle.postings.get(q.exclude, {}):
                errs.append(f"{q.text!r}: doc {d} contains excluded {q.exclude!r}")
            if q.field:
                fld, val = q.field
                if self.meta.get(d, {}).get(fld) != val:
                    errs.append(f"{q.text!r}: doc {d} fails {fld}:{val}")
        if q.kind == "absent" and rows:
            errs.append(f"{q.text!r}: absent term returned {len(rows)} results")
        if q.kind in ("tail", "multi") and not rows:
            live = {
                d
                for t in q.terms
                for d in self.oracle.postings.get(t, {})
                if d not in deleted
            }
            if live:
                errs.append(f"{q.text!r}: no results, oracle has {len(live)} live docs")
        return errs

    def topk(self, q: Query, got: list[tuple[int, float]], k: int, deleted=frozenset()) -> list[str]:
        """In-process ``wand_topk_local`` against ``OracleIndex.topk``: the same
        score at every rank (ties may swap doc ids) and every returned doc
        scored exactly as the oracle scores it."""
        want = [
            (d, s) for d, s in self.oracle.topk(q.text, k + len(deleted)) if d not in deleted
        ][:k]
        errs = []
        if len(got) != len(want):
            return [f"topk {q.text!r}: {len(got)} results, oracle {len(want)}"]
        for (gd, gs), (_wd, ws) in zip(got, want):
            if abs(gs - ws) > TOL:
                errs.append(f"topk {q.text!r}: score {gs!r} != oracle {ws!r}")
            elif abs(gs - self.bm25(q.terms, gd)) > TOL:
                errs.append(f"topk {q.text!r}: doc {gd} mis-scored")
        return errs
