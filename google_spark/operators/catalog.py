"""Snapshot catalog: Iceberg-style versioned metadata over the published
index (SURVEY.md §1.1 "persisted as Iceberg/parquet table"; north-rule
"over Iceberg tables ... resumable from checkpoint with per-partition
lineage").

The reference publishes its index by renaming ``index2`` -> ``index``
(ref: src/cis5550/jobs/Indexer.java:245-246) — an in-place swap that
deletes the previous table under any reader still scanning it. At 10^12
files a republish takes hours and live queries cannot stop, so the
published index gets Iceberg's reader/writer isolation instead:

- every commit writes IMMUTABLE data under ``{root}/data/`` and a manifest
  under ``{root}/meta/v{N}.json``, then atomically flips ``{root}/HEAD``
  (``os.replace``; on an object store this is the catalog's compare-and-
  swap). A reader resolves a snapshot once and keeps a consistent view —
  a republish never touches its files;
- snapshot operations mirror Iceberg's:
  ``overwrite``   full publish (new segment replaces everything),
  ``append``      a new doc segment — the snapshot's postings become the
                  UNION of segment dirs. No rewrite: every query kernel
                  already accumulates across multiple posting rows per
                  term (that is how doc-sharding works), so a segment is
                  just more rows over a disjoint doc_id universe,
  ``delete``      merge-on-read delete files (doc_id parquet). Deleted
                  docs vanish from results immediately; global stats
                  (df, n_docs, avgdl) stay at their pre-delete values
                  until a compaction, exactly like Iceberg v2 position
                  deletes awaiting a rewrite,
  ``compact``     rewrite applying the delete files: posting blobs are
                  re-encoded without the deleted docs (bit-identical to a
                  fresh build over the survivors), df/idf/n_docs/avgdl
                  are re-finalized exactly;
- time travel: ``read(spark, version=k)``; audit: ``log()`` (the
  snapshot-history analog of the incremental layout's lineage table);
  ``expire(keep_last=k)`` drops old manifests and any data no surviving
  manifest references.

Concurrency: readers need no coordination at any point (they resolve a
manifest once and every data file it references is immutable). Writers
serialize the COMMIT step through a lock file (``{root}/COMMIT_LOCK``,
O_CREAT|O_EXCL — the filesystem stand-in for Iceberg's catalog CAS) and
re-derive their metadata against the freshest parent manifest inside the
critical section (:meth:`SnapshotCatalog._commit_apply`), so a concurrent
append + delete both land — neither loses the other's segments or delete
files. Data files get a per-attempt unique suffix so two writers can
never collide on a path. Operations whose PLAN depends on snapshot state
(``upsert_files``, ``compact``) cannot be transparently re-derived — they
raise :class:`ConcurrentCommitError` when the head moved under them and
the caller retries the whole operation.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import time
import uuid
from dataclasses import dataclass, field
from functools import reduce

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from google_spark.operators.index_build import (
    N_TERM_BUCKETS,
    POSTINGS_SCHEMA,
    IndexTables,
    build_postings,
    encode_sorted_terms,
    term_stats,
    tokenize_docs,
    write_doc_id_file,
    write_index,
)

DELETES_SCHEMA = "doc_id long"


class ConcurrentCommitError(RuntimeError):
    """The head snapshot moved between planning and committing an
    operation whose plan depends on snapshot state (upsert/compact).
    Retry the whole operation against the new head."""


@dataclass
class Manifest:
    version: int
    parent: int | None
    operation: str
    committed_at: float
    segments: list[str]  # data-relative segment dirs, commit order
    deletes: list[str]  # data-relative delete parquet files
    summary: dict = field(default_factory=dict)

    def to_json(self) -> dict:
        return {
            "version": self.version,
            "parent": self.parent,
            "operation": self.operation,
            "committed_at": self.committed_at,
            "segments": self.segments,
            "deletes": self.deletes,
            "summary": self.summary,
        }


def _atomic_write(path: str, text: str) -> None:
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        f.write(text)
    os.replace(tmp, path)


def _exclusive_write(path: str, text: str) -> None:
    """Atomic create-if-absent: raises FileExistsError when ``path`` is
    already taken. The manifest-file claim is the catalog's true
    compare-and-swap — two writers that both slipped into the critical
    section (a stale-lock break gone wrong) can never overwrite each
    other's manifest; the loser re-derives against the winner's commit."""
    tmp = f"{path}.claim-{uuid.uuid4().hex[:6]}"
    with open(tmp, "w") as f:
        f.write(text)
    try:
        os.link(tmp, path)  # atomic exclusive create (POSIX)
    finally:
        os.remove(tmp)


def _keys_of(docs: DataFrame, id_col: str) -> DataFrame | None:
    """(doc_id, repo, path) primary-key sidecar rows, or None when the
    docs table has no repo/path columns (plain doc_id+text corpora)."""
    cols = set(docs.columns)
    if not {"repo", "path"} <= cols:
        return None
    return docs.select(F.col(id_col).alias("doc_id"), "repo", "path")


class SnapshotCatalog:
    """Versioned index root. All paths inside manifests are relative to
    ``{root}`` so the catalog directory can be moved/mirrored wholesale."""

    def __init__(self, root: str):
        self.root = root
        self.meta_dir = os.path.join(root, "meta")
        self.data_dir = os.path.join(root, "data")
        self.head_path = os.path.join(root, "HEAD")

    # -- metadata ---------------------------------------------------------

    def versions(self) -> list[int]:
        if not os.path.isdir(self.meta_dir):
            return []
        out = []
        for name in os.listdir(self.meta_dir):
            if name.startswith("v") and name.endswith(".json"):
                try:
                    out.append(int(name[1:-5]))
                except ValueError:
                    continue
        return sorted(out)

    def head(self) -> int | None:
        try:
            with open(self.head_path) as f:
                return int(f.read().strip().lstrip("v"))
        except (FileNotFoundError, ValueError):
            return None

    def manifest(self, version: int | None = None) -> Manifest:
        v = self.head() if version is None else version
        if v is None:
            raise FileNotFoundError(f"no committed snapshot under {self.root}")
        with open(os.path.join(self.meta_dir, f"v{v:05d}.json")) as f:
            d = json.load(f)
        return Manifest(
            version=d["version"],
            parent=d["parent"],
            operation=d["operation"],
            committed_at=d["committed_at"],
            segments=d["segments"],
            deletes=d["deletes"],
            summary=d["summary"],
        )

    def log(self) -> list[dict]:
        """Snapshot history, oldest first (Iceberg ``history()``)."""
        return [self.manifest(v).to_json() for v in self.versions()]

    @contextlib.contextmanager
    def _commit_lock(self, timeout: float = 300.0, stale_after: float = 3600.0):
        """Writer mutual exclusion for the commit critical section: an
        O_CREAT|O_EXCL lock file carrying a per-acquisition token.
        Committing is pure metadata (the heavy Spark work happens BEFORE
        the lock), so the section is milliseconds. A lock older than
        ``stale_after`` is presumed orphaned by a crashed holder and
        broken.

        The lock is the FAST PATH, not the correctness guarantee: the
        stale-break below is inherently check-then-act, so two writers
        can (rarely) both enter the critical section. Lost updates are
        prevented one layer down — _commit_apply claims each manifest
        file with an atomic exclusive create (_exclusive_write) and
        retries against the winner's commit on collision. The token
        closes the remaining sharp edges: a holder stalled past
        ``stale_after`` whose lock was broken must not delete its
        successor's lock at release, and a breaker that renamed away a
        FRESH lock (mtime raced) detects the foreign token and restores
        it."""
        os.makedirs(self.root, exist_ok=True)
        lock = os.path.join(self.root, "COMMIT_LOCK")
        token = uuid.uuid4().hex
        deadline = time.monotonic() + timeout
        while True:
            try:
                fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                os.write(fd, f"{token} {os.getpid()} {time.time()}\n".encode())
                os.close(fd)
                break
            except FileExistsError:
                with contextlib.suppress(FileNotFoundError):
                    if time.time() - os.path.getmtime(lock) > stale_after:
                        # sample the holder's token, THEN break via
                        # rename-to-unique (only one waiter's rename
                        # succeeds), THEN re-check: if the renamed file
                        # carries a different token than sampled, the
                        # stale holder was replaced between check and
                        # rename and we stole a FRESH lock — restore it
                        with open(lock) as f:
                            seen = f.read()
                        stale = f"{lock}.stale-{uuid.uuid4().hex[:6]}"
                        os.rename(lock, stale)
                        with open(stale) as f:
                            got = f.read()
                        if got == seen:
                            os.remove(stale)  # genuinely orphaned
                        elif not os.path.exists(lock):
                            os.rename(stale, lock)  # give it back
                        else:
                            # a third waiter already locked; the displaced
                            # holder is covered by the CAS manifest claim
                            os.remove(stale)
                        continue
                if time.monotonic() > deadline:
                    raise TimeoutError(
                        f"could not acquire {lock} within {timeout}s"
                    )
                time.sleep(0.02)
        try:
            yield
        finally:
            # token-checked release: only remove the lock if it is still
            # OURS (a breaker may have replaced it while we were stalled)
            with contextlib.suppress(FileNotFoundError, OSError):
                with open(lock) as f:
                    if f.read().split(" ", 1)[0] == token:
                        os.remove(lock)

    def _commit_apply(self, operation: str, apply_fn) -> int:
        """Commit with writer isolation: under the commit lock, re-read
        the freshest parent manifest and let ``apply_fn(parent) ->
        (segments, deletes, summary)`` re-derive the new snapshot's
        metadata against it — so a concurrent append and delete compose
        instead of the later commit silently dropping the earlier one's
        segments/delete files."""
        with self._commit_lock():
            os.makedirs(self.meta_dir, exist_ok=True)
            while True:
                parent_v = self.head()
                parent = (
                    self.manifest(parent_v) if parent_v is not None else None
                )
                segments, deletes, summary = apply_fn(parent)
                # stream high-water marks ride EVERY commit (delete,
                # compact, upsert, ...), so the exactly-once epoch guard
                # survives expire() dropping the manifest that first
                # carried a tag — HEAD's summary always holds the
                # freshest mark per stream. A summary that already
                # carries the map wins wholesale: rollback restores the
                # TARGET's marks so the rolled-back epochs (whose data
                # the rollback removed) can re-append.
                if "stream_epochs" not in summary:
                    hwm = dict((parent.summary or {}).get("stream_epochs", {})) \
                        if parent is not None else {}
                    sid = summary.get("stream_id")
                    sep = summary.get("stream_epoch")
                    if sid is not None and sep is not None:
                        hwm[str(sid)] = max(int(sep), int(hwm.get(str(sid), -1)))
                    if hwm:
                        summary["stream_epochs"] = hwm
                v = (max(self.versions()) + 1) if self.versions() else 1
                m = Manifest(
                    version=v,
                    parent=parent_v,
                    operation=operation,
                    committed_at=time.time(),
                    segments=segments,
                    deletes=deletes,
                    summary=summary,
                )
                # manifest first, HEAD flip last: a crash in between
                # leaves an unreferenced manifest that the next commit
                # supersedes (version numbers advance past it) and
                # expire() garbage-collects
                try:
                    _exclusive_write(
                        os.path.join(self.meta_dir, f"v{v:05d}.json"),
                        json.dumps(m.to_json(), indent=1),
                    )
                except FileExistsError:
                    # CAS lost: a concurrent writer (two-in-section via a
                    # raced stale-lock break) claimed this version number
                    # first. Nothing was damaged — re-derive the commit
                    # against the winner's manifest as the new parent.
                    continue
                # monotonic HEAD flip: never move HEAD backwards if the
                # CAS loser's retry commits before the winner flips
                cur = self.head()
                if cur is None or v > cur:
                    _atomic_write(self.head_path, f"v{v:05d}\n")
                return v

    def _commit(
        self,
        operation: str,
        segments: list[str],
        deletes: list[str],
        summary: dict,
    ) -> int:
        """Parent-independent commit (overwrite/rollback, and ops that
        already verified the head under their own apply closure)."""
        return self._commit_apply(
            operation, lambda parent: (segments, deletes, summary)
        )

    def _new_data_path(self, prefix: str, version: int, suffix: str = "") -> str:
        """A fresh data path. The version number is a readability hint;
        the uuid token is the uniqueness guarantee — two concurrent
        writers (or a crashed attempt and its retry) can never collide on
        a path, so no writer ever renames onto another's directory."""
        os.makedirs(self.data_dir, exist_ok=True)
        return os.path.join(
            self.data_dir, f"{prefix}{version:05d}-{uuid.uuid4().hex[:6]}{suffix}"
        )

    def _write_segment(
        self,
        index: IndexTables,
        version: int,
        n_buckets: int,
        doclens: DataFrame | None = None,
        keys: DataFrame | None = None,
    ) -> str:
        """Write one immutable segment dir (postings/terms/stats via
        write_index, plus the doclens and keys sidecars) under a tmp name
        and atomically rename it in. ``doclens`` (doc_id, dl) lets a later
        compaction re-finalize avgdl without decoding blobs; ``keys``
        (doc_id, repo, path) is the logical-primary-key map upserts use to
        find the doc versions they replace."""
        seg = self._new_data_path("b", version)
        tmp = seg + ".tmp"
        if os.path.isdir(tmp):
            shutil.rmtree(tmp)
        write_index(index, tmp, n_buckets=n_buckets)
        if doclens is not None:
            doclens.select("doc_id", "dl").write.mode("overwrite").parquet(
                os.path.join(tmp, "doclens.parquet")
            )
        if keys is not None:
            keys.select("doc_id", "repo", "path").write.mode("overwrite").parquet(
                os.path.join(tmp, "keys.parquet")
            )
        # seg carries a fresh per-attempt uuid suffix (_new_data_path), so
        # no previous attempt's orphan can exist at this path — a crashed
        # attempt's dir is unreferenced garbage that expire() GCs
        os.replace(tmp, seg)
        return seg

    def _seg_dirs(self, m: Manifest) -> list[str]:
        return [os.path.join(self.root, s) for s in m.segments]

    def _sidecar(
        self, spark: SparkSession, m: Manifest, name: str
    ) -> DataFrame | None:
        """Union of a sidecar parquet across the snapshot's segments, or
        None when any segment lacks it (sidecars are all-or-nothing per
        snapshot so derived stats never silently cover half the corpus)."""
        paths = [f"{d}/{name}.parquet" for d in self._seg_dirs(m)]
        if not all(os.path.isdir(p) for p in paths):
            return None
        return reduce(
            DataFrame.unionByName, [spark.read.parquet(p) for p in paths]
        )

    # -- commits ----------------------------------------------------------

    def commit_index(
        self,
        index: IndexTables,
        operation: str = "overwrite",
        doclens: DataFrame | None = None,
        keys: DataFrame | None = None,
        n_buckets: int = N_TERM_BUCKETS,
    ) -> int:
        """Publish a fully-built index as a new snapshot. ``doclens``
        (doc_id, dl — one row per doc that produced tokens) and ``keys``
        (doc_id, repo, path) are optional segment sidecars: doclens lets a
        later compaction re-finalize avgdl without decoding the postings,
        keys lets upsert_files find the doc versions it replaces."""
        v = (max(self.versions()) + 1) if self.versions() else 1
        seg = self._write_segment(
            index, v, n_buckets, doclens=doclens, keys=keys
        )
        summary = {
            "n_docs": index.n_docs,
            "avgdl": index.avgdl,
            "total_dl": index.avgdl * index.n_docs,
            "n_buckets": n_buckets,
            "n_deletes": 0,
            "n_pending": 0,
        }
        return self._commit(operation, [os.path.relpath(seg, self.root)], [], summary)

    def commit_build(
        self,
        spark: SparkSession,
        docs: DataFrame,
        id_col: str = "doc_id",
        text_col: str = "text",
        mode: str = "simple",
        stem: bool = False,
        n_shards: int = 8,
        n_buckets: int = N_TERM_BUCKETS,
    ) -> int:
        """Tokenize + build + publish in one pass (the convenience full
        publish; writes the doclens sidecar so compaction stays cheap)."""
        total_docs = docs.count()
        doc_terms = tokenize_docs(
            docs, id_col=id_col, text_col=text_col, mode=mode, stem=stem
        ).persist()
        try:
            postings = build_postings(doc_terms, n_shards=n_shards, n_buckets=n_buckets)
            doclens = doc_terms.groupBy("doc_id").agg(F.first("dl").alias("dl"))
            total_dl = int(
                doclens.agg(F.sum("dl").alias("s")).collect()[0]["s"] or 0
            )
            avgdl = total_dl / total_docs if total_docs else 0.0
            index = IndexTables(
                postings=postings,
                terms=term_stats(postings, total_docs),
                n_docs=total_docs,
                avgdl=avgdl,
                n_buckets=n_buckets,
            )
            return self.commit_index(
                index,
                doclens=doclens,
                keys=_keys_of(docs, id_col),
                n_buckets=n_buckets,
            )
        finally:
            doc_terms.unpersist()

    def append_docs(
        self,
        spark: SparkSession,
        docs: DataFrame,
        id_col: str = "doc_id",
        text_col: str = "text",
        mode: str = "simple",
        stem: bool = False,
        n_shards: int = 8,
        tags: dict | None = None,
    ) -> int:
        """Append a segment of NEW docs (doc_ids disjoint from every live
        segment — the caller's contract, e.g. ids that hash a fresh commit).
        Cost is proportional to the appended docs only: no existing posting
        row is read or rewritten. n_docs/avgdl are advanced exactly from the
        segment's own doc lengths; per-term df (hence idf) is re-finalized
        lazily at read time by summing segment dfs.

        ``tags`` (JSON-serializable) are merged into the manifest summary —
        the idempotence hook for at-least-once writers (a streaming epoch
        records ``stream_epoch``; a replay finds it via :meth:`log` and
        skips the duplicate append)."""
        m = self.manifest()
        seg, n_new, new_dl = self._build_segment(
            m, docs, id_col, text_col, mode, stem, n_shards
        )
        rel = os.path.relpath(seg, self.root)

        def apply(parent: Manifest | None):
            # re-derived against the freshest parent under the commit lock:
            # a concurrent delete's files/counters ride along untouched
            if parent is None:
                raise FileNotFoundError(
                    f"no committed snapshot under {self.root}"
                )
            if int(parent.summary["n_buckets"]) != int(m.summary["n_buckets"]):
                raise ConcurrentCommitError(
                    "n_buckets changed under this append; retry"
                )
            n_docs = int(parent.summary["n_docs"]) + n_new
            total_dl = float(parent.summary["total_dl"]) + new_dl
            summary = {
                "n_docs": n_docs,
                "avgdl": (total_dl / n_docs if n_docs else 0.0),
                "total_dl": total_dl,
                "n_buckets": int(parent.summary["n_buckets"]),
                "n_deletes": int(parent.summary.get("n_deletes", 0)),
                "n_pending": int(parent.summary.get("n_pending", 0)),
            }
            if tags:
                summary.update(tags)
            return parent.segments + [rel], parent.deletes, summary

        return self._commit_apply("append", apply)

    def _build_segment(
        self,
        m: Manifest,
        docs: DataFrame,
        id_col: str,
        text_col: str,
        mode: str,
        stem: bool,
        n_shards: int,
    ) -> tuple[str, int, int]:
        """Tokenize + build + write one new segment for ``docs``; returns
        (segment path, n_docs, sum of doc lengths). Shared by append and
        upsert."""
        n_buckets = int(m.summary["n_buckets"])
        n_new = docs.count()
        doc_terms = tokenize_docs(
            docs, id_col=id_col, text_col=text_col, mode=mode, stem=stem
        ).persist()
        try:
            postings = build_postings(doc_terms, n_shards=n_shards, n_buckets=n_buckets)
            doclens = doc_terms.groupBy("doc_id").agg(F.first("dl").alias("dl"))
            new_dl = int(doclens.agg(F.sum("dl").alias("s")).collect()[0]["s"] or 0)
            seg_index = IndexTables(
                postings=postings,
                terms=term_stats(postings, max(n_new, 1)),
                n_docs=n_new,
                avgdl=(new_dl / n_new if n_new else 0.0),
                n_buckets=n_buckets,
            )
            v = (max(self.versions()) + 1) if self.versions() else 1
            seg = self._write_segment(
                seg_index,
                v,
                n_buckets,
                doclens=doclens,
                keys=_keys_of(docs, id_col),
            )
        finally:
            doc_terms.unpersist()
        return seg, n_new, new_dl

    def upsert_files(
        self,
        spark: SparkSession,
        new_files: DataFrame,
        id_col: str = "doc_id",
        text_col: str = "content",
        mode: str = "simple",
        stem: bool = False,
        n_shards: int = 8,
    ) -> int:
        """Replace-or-add by logical primary key (repo, path) — "index the
        new commit of these files". One snapshot commit that:

        1. finds the LIVE doc versions sharing a (repo, path) with
           ``new_files`` via the keys sidecars (already-deleted ids are
           excluded so bookkeeping never double-counts),
        2. tombstones them with a merge-on-read delete file,
        3. appends one segment holding the new docs.

        Cost ∝ |new_files| + a pruned keys-sidecar join — no existing
        posting row is read or rewritten; at 10^12 files re-indexing one
        repo's push stays a small bounded job. n_docs/avgdl are advanced
        exactly (replaced docs' lengths come from the doclens sidecar);
        per-term df/idf stay pre-delete until compact(), like any delete.

        ``new_files`` must carry repo/path columns, one row per (repo,
        path); the snapshot must have been committed with keys+doclens
        sidecars (commit_build/append_docs/upsert_files all write them)."""
        m = self.manifest()
        keys = self._sidecar(spark, m, "keys")
        doclens = self._sidecar(spark, m, "doclens")
        if keys is None or doclens is None:
            raise ValueError(
                "upsert_files needs the keys+doclens sidecars; this "
                "snapshot's segments lack them (publish via commit_build/"
                "append_docs, or use append_docs+delete_docs manually)"
            )
        live_keys = keys
        deleted = self.load_deletes()
        if deleted is not None and len(deleted):
            dels_df = spark.createDataFrame(
                [(int(x),) for x in deleted], DELETES_SCHEMA
            )
            live_keys = live_keys.join(
                F.broadcast(dels_df), "doc_id", "left_anti"
            )
        replaced = (
            live_keys.join(
                new_files.select("repo", "path").distinct(), ["repo", "path"]
            )
            .join(doclens, "doc_id", "left")
            .select("doc_id", F.coalesce("dl", F.lit(0)).alias("dl"))
            .collect()
        )
        # an unchanged file (same repo/path/commit => same doc_id) is a
        # no-op: it must be neither tombstoned (the delete mask applies by
        # doc_id across ALL segments and would kill the appended copy too)
        # nor re-indexed (double postings)
        new_ids = {
            int(r[0]) for r in new_files.select(id_col).distinct().collect()
        }
        replaced = [r for r in replaced if int(r["doc_id"]) not in new_ids]
        old_ids = np.unique(np.array([r["doc_id"] for r in replaced], dtype=np.int64))
        old_dl = sum(int(r["dl"]) for r in replaced)
        live_new_ids = {
            int(r[0])
            for r in live_keys.join(
                new_files.select(F.col(id_col).alias("doc_id")), "doc_id", "semi"
            ).collect()
        }
        docs_to_add = new_files
        if live_new_ids:
            docs_to_add = new_files.filter(
                ~F.col(id_col).isin([int(x) for x in live_new_ids])
            )
        if not (new_ids - live_new_ids) and not len(old_ids):
            # every new file is byte-for-byte the live version: nothing to
            # tombstone, nothing to index — don't commit an empty segment
            return self.head()

        seg, n_new, new_dl = self._build_segment(
            m, docs_to_add, id_col, text_col, mode, stem, n_shards
        )
        deletes = list(m.deletes)
        if len(old_ids):
            v = (max(self.versions()) + 1) if self.versions() else 1
            dpath = self._new_data_path("d", v, ".parquet")
            write_doc_id_file(dpath, old_ids)
            deletes.append(os.path.relpath(dpath, self.root))
        n_docs = int(m.summary["n_docs"]) - int(len(old_ids)) + n_new
        total_dl = float(m.summary["total_dl"]) - old_dl + new_dl
        summary = {
            "n_docs": n_docs,
            "avgdl": (total_dl / n_docs if n_docs else 0.0),
            "total_dl": total_dl,
            "n_buckets": int(m.summary["n_buckets"]),
            "n_deletes": int(m.summary.get("n_deletes", 0)) + int(len(old_ids)),
            # the replaced docs are subtracted from n_docs HERE (exact
            # bookkeeping), so compaction must not subtract them again
            "n_pending": int(m.summary.get("n_pending", 0)),
        }
        def apply(parent: Manifest | None):
            # the replaced-set plan was computed against snapshot m; a
            # head that moved since cannot be transparently re-planned
            if parent is None or parent.version != m.version:
                raise ConcurrentCommitError(
                    "head moved during upsert_files; retry the operation"
                )
            return m.segments + [os.path.relpath(seg, self.root)], deletes, summary

        return self._commit_apply("upsert", apply)

    def delete_docs(self, doc_ids) -> int:
        """Merge-on-read delete: writes ONE doc_id parquet file and a new
        manifest sharing every data dir with the parent — O(|deletes|)
        work, no Spark job, no posting touched. ``doc_ids`` is an iterable
        of ints or a 1-column DataFrame. Ids must reference live docs (the
        n_docs bookkeeping trusts this, like Iceberg trusts delete files
        to point at real rows)."""
        if isinstance(doc_ids, DataFrame):
            ids0 = np.array(
                [r[0] for r in doc_ids.select(doc_ids.columns[0]).collect()],
                dtype=np.int64,
            )
        else:
            ids0 = np.asarray(sorted(doc_ids), dtype=np.int64)
        ids0 = np.unique(ids0)

        def apply(parent: Manifest | None):
            # re-derived under the commit lock: the already-tombstoned set
            # comes from the FRESHEST parent (a concurrent delete's ids are
            # excluded exactly once), and a concurrent append's segments
            # ride along untouched. Keeping retombstoned ids out of the new
            # file keeps n_deletes/n_pending exact (compaction subtracts
            # n_pending from n_docs).
            if parent is None:
                raise FileNotFoundError(
                    f"no committed snapshot under {self.root}"
                )
            ids = ids0
            existing = self.load_deletes(version=parent.version)
            if existing is not None and len(existing):
                ids = np.setdiff1d(ids, existing)
            path = self._new_data_path("d", parent.version + 1, ".parquet")
            write_doc_id_file(path, ids)
            summary = dict(parent.summary)
            summary["n_deletes"] = int(summary.get("n_deletes", 0)) + int(len(ids))
            # a plain delete leaves n_docs/avgdl frozen (scores of survivors
            # must not move until compact); n_pending records how many
            # tombstones compaction still has to subtract from n_docs
            summary["n_pending"] = int(summary.get("n_pending", 0)) + int(len(ids))
            return (
                parent.segments,
                parent.deletes + [os.path.relpath(path, self.root)],
                summary,
            )

        return self._commit_apply("delete", apply)

    def rollback(self, version: int) -> int:
        """Restore a previous snapshot's state as a NEW head version (the
        Iceberg ``rollback_to_snapshot`` analog): pure metadata — the new
        manifest references the target's segments/deletes verbatim, so no
        data is copied or rewritten and the commit is O(1) regardless of
        index size. History is preserved: the rolled-past versions stay
        readable (time travel) until :meth:`expire`, and expire's
        reference-based GC keeps every file the rollback head needs."""
        m = self.manifest(version)
        summary = dict(m.summary)
        summary["rolled_back_to"] = int(version)
        # Pin the TARGET's stream high-water marks explicitly (an empty map
        # when the target predates streaming). Without the key present,
        # _commit_apply would inherit the rolled-back head's marks, and the
        # discarded epochs could never re-append — the exactly-once guard
        # would treat the lost data as already committed forever.
        summary["stream_epochs"] = dict(m.summary.get("stream_epochs", {}))
        # a rollback is not itself a stream append: drop any tag the target
        # carried so _commit_apply doesn't re-fold it into the marks
        summary.pop("stream_id", None)
        summary.pop("stream_epoch", None)
        return self._commit("rollback", m.segments, m.deletes, summary)

    # -- reads ------------------------------------------------------------

    def load_deletes(self, version: int | None = None) -> np.ndarray | None:
        """Sorted unique deleted doc_ids for a snapshot (None when the
        snapshot carries no delete files)."""
        import pyarrow.parquet as pq

        m = self.manifest(version)
        if not m.deletes:
            return None
        parts = [
            pq.read_table(os.path.join(self.root, p), columns=["doc_id"])
            .column("doc_id")
            .to_numpy()
            for p in m.deletes
        ]
        return np.unique(np.concatenate(parts).astype(np.int64))

    def live_doc_ids(
        self, spark: SparkSession, version: int | None = None
    ) -> DataFrame:
        """(doc_id) — the docs LIVE in a snapshot: union of the segments'
        doclens sidecars minus the snapshot's delete vector. Sidecar-only
        (never decodes postings); both commit paths always write doclens,
        so this raises (rather than silently under-counting) on a snapshot
        missing them. Note the doclens contract: one row per doc that
        produced at least one token, so a fully-empty doc is not listed.
        """
        m = self.manifest(version)
        dl = self._sidecar(spark, m, "doclens")
        if dl is None:
            raise FileNotFoundError(
                f"snapshot v{m.version} under {self.root} has segments "
                "without a doclens sidecar; live_doc_ids/changelog need it"
            )
        ids = dl.select("doc_id").distinct()
        dels = self.load_deletes(m.version)
        if dels is not None and len(dels):
            del_df = ids.sparkSession.createDataFrame(
                [(int(x),) for x in dels], "doc_id long"
            )
            ids = ids.join(F.broadcast(del_df), "doc_id", "left_anti")
        return ids

    def changelog(
        self, spark: SparkSession, v_from: int, v_to: int
    ) -> DataFrame:
        """(change, doc_id) — the SEMANTIC diff between two snapshots (the
        Iceberg changelog / CDC analog): 'added' = live in v_to but not
        v_from, 'deleted' = live in v_from but not v_to. Computed on live
        SETS, so a compaction (which rewrites every segment file without
        changing contents) produces an empty changelog, and an upsert
        surfaces as delete+add of the affected doc ids.

        Scale shape: two sidecar scans (doc_id grain, never postings), two
        anti-joins on the fixed-width doc_id key, deletes applied as
        broadcast anti-joins. Ordered (change, doc_id) for determinism."""
        a = self.live_doc_ids(spark, v_to)
        b = self.live_doc_ids(spark, v_from)
        added = a.join(b, "doc_id", "left_anti").select(
            F.lit("added").alias("change"), "doc_id"
        )
        deleted = b.join(a, "doc_id", "left_anti").select(
            F.lit("deleted").alias("change"), "doc_id"
        )
        return added.unionByName(deleted).orderBy("change", "doc_id")

    def read(self, spark: SparkSession, version: int | None = None) -> IndexTables:
        """Resolve a snapshot into IndexTables. Postings are the union of
        the snapshot's segment scans (tb partition pruning pushes into
        every child); per-term idf is a lazy re-finalization over segment
        dfs with the snapshot's n_docs; delete files ride along as a
        sorted doc_id array the query kernels mask against."""
        m = self.manifest(version)
        seg_dirs = [os.path.join(self.root, s) for s in m.segments]
        postings = reduce(
            DataFrame.unionByName,
            [spark.read.parquet(f"{d}/postings.parquet") for d in seg_dirs],
        )
        n_docs = int(m.summary["n_docs"])
        seg_terms = reduce(
            DataFrame.unionByName,
            [
                spark.read.parquet(f"{d}/terms.parquet").select("term", "df")
                for d in seg_dirs
            ],
        )
        terms = seg_terms.groupBy("term").agg(F.sum("df").alias("df")).withColumn(
            "idf",
            F.log(
                (F.lit(float(n_docs)) - F.col("df") + 0.5) / (F.col("df") + 0.5)
                + 1.0
            ),
        )
        return IndexTables(
            postings=postings,
            terms=terms,
            n_docs=n_docs,
            avgdl=float(m.summary["avgdl"]),
            n_buckets=int(m.summary["n_buckets"]),
            disk_path=(seg_dirs[0] if len(seg_dirs) == 1 else seg_dirs),
            deletes=self.load_deletes(version),
        )

    # -- maintenance ------------------------------------------------------

    def compact(self, spark: SparkSession, n_shards_hint: int | None = None) -> int:
        """Rewrite the head snapshot applying its delete files (Iceberg
        ``rewrite_data_files`` + ``rewrite_position_deletes`` in one):
        every posting blob is decoded, delete-masked, and re-encoded with
        fresh block metadata — bit-identical to a fresh build over the
        surviving docs (shards are a pure function of doc_id, block
        metadata a pure function of the surviving arrays). df/idf/n_docs/
        avgdl are re-finalized exactly; the new snapshot carries no delete
        files. Multi-segment snapshots also fold into ONE segment (the
        append path's read-time union disappears)."""
        m = self.manifest()
        idx = self.read(spark)
        deletes = idx.deletes
        rewritten = _rewrite_postings(idx.postings, deletes)
        # n_pending = tombstones whose removal n_docs does not yet reflect
        # (plain deletes); upsert tombstones were already subtracted
        n_docs = int(m.summary["n_docs"]) - int(m.summary.get("n_pending", 0))

        # exact avgdl re-finalization: surviving doc lengths (doclens
        # sidecar when every segment has one, else recovered from blobs)
        doclens = self._sidecar(spark, m, "doclens")
        if doclens is None:
            doclens = _doclens_from_postings(idx.postings)
        keys = self._sidecar(spark, m, "keys")
        if deletes is not None and len(deletes):
            dels = spark.createDataFrame(
                [(int(x),) for x in deletes], DELETES_SCHEMA
            )
            doclens = doclens.join(F.broadcast(dels), "doc_id", "left_anti")
            if keys is not None:
                keys = keys.join(F.broadcast(dels), "doc_id", "left_anti")
        total_dl = int(doclens.agg(F.sum("dl").alias("s")).collect()[0]["s"] or 0)
        avgdl = total_dl / n_docs if n_docs else 0.0

        n_buckets = int(m.summary["n_buckets"])
        index = IndexTables(
            postings=rewritten,
            terms=term_stats(rewritten, n_docs),
            n_docs=n_docs,
            avgdl=avgdl,
            n_buckets=n_buckets,
        )
        v = (max(self.versions()) + 1) if self.versions() else 1
        seg = self._write_segment(index, v, n_buckets, doclens=doclens, keys=keys)
        summary = {
            "n_docs": n_docs,
            "avgdl": avgdl,
            "total_dl": float(total_dl),
            "n_buckets": n_buckets,
            "n_deletes": 0,
            "n_pending": 0,
        }
        def apply(parent: Manifest | None):
            # the rewrite applied snapshot m's delete files; a head that
            # moved since (new deletes/segments) needs a fresh compaction
            if parent is None or parent.version != m.version:
                raise ConcurrentCommitError(
                    "head moved during compact; retry the operation"
                )
            return [os.path.relpath(seg, self.root)], [], summary

        return self._commit_apply("compact", apply)

    def expire(
        self, keep_last: int = 2, orphan_grace_s: float = 3600.0
    ) -> list[str]:
        """Drop all but the newest ``keep_last`` manifests, then delete
        every data path no surviving manifest references (plus orphaned
        ``*.tmp`` from crashed commits). Time travel to expired versions
        stops working; readers that already resolved a surviving snapshot
        are unaffected. Returns removed paths.

        Runs under the commit lock, and unreferenced paths younger than
        ``orphan_grace_s`` survive: an in-flight writer builds its segment
        dir BEFORE taking the lock to commit (the heavy Spark work happens
        outside the critical section), so a fresh unreferenced dir is more
        likely a commit-in-progress than garbage — GC'ing it would let the
        writer commit a manifest pointing at a deleted directory. This is
        Iceberg's ``remove_orphan_files`` ``older_than`` defense."""
        removed = []
        with self._commit_lock():
            versions = self.versions()
            keep = set(versions[-max(keep_last, 1):])
            head = self.head()
            if head is not None:
                keep.add(head)
            for v in versions:
                if v not in keep:
                    os.remove(os.path.join(self.meta_dir, f"v{v:05d}.json"))
                    removed.append(f"meta/v{v:05d}.json")
            referenced = set()
            for v in self.versions():
                m = self.manifest(v)
                referenced.update(m.segments)
                referenced.update(m.deletes)
            now = time.time()
            if os.path.isdir(self.data_dir):
                for entry in os.scandir(self.data_dir):
                    rel = os.path.relpath(entry.path, self.root)
                    if rel in referenced:
                        continue
                    with contextlib.suppress(FileNotFoundError):
                        if now - entry.stat().st_mtime < orphan_grace_s:
                            continue  # possible commit-in-progress
                        if entry.is_dir():
                            shutil.rmtree(entry.path)
                        else:
                            os.remove(entry.path)
                        removed.append(rel)
        return removed


def _rewrite_postings(postings: DataFrame, deletes: np.ndarray | None) -> DataFrame:
    """Decode -> merge -> delete-mask -> re-encode, one (term-bucket,
    shard) group at a time: rows of the same (term, shard) split across
    append segments fold into ONE row (their doc universes are disjoint,
    so the merge is a concatenate + argsort like the incremental layout's
    indexJoin), deleted docs drop out, blobs and block metadata are
    re-encoded — making the output structurally identical to a fresh
    build over the surviving docs. Terms whose postings are fully deleted
    disappear. One exchange on (tb, shard), the same shape as the build's
    encode exchange."""

    def kernel(pdf):
        from google_spark.functions.codec import (
            decode_postings_full_np,
            not_deleted_mask,
        )

        shard = int(pdf["shard"].iloc[0])

        def term_arrays():
            for term, g in pdf.groupby("term", sort=False):
                d_parts, t_parts, l_parts, p_parts = [], [], [], []
                for blob in g["postings"]:
                    d, t, l, p = decode_postings_full_np(bytes(blob))
                    d_parts.append(d)
                    t_parts.append(t)
                    l_parts.append(l)
                    p_parts.extend(p)
                docs = np.concatenate(d_parts)
                tfs = np.concatenate(t_parts)
                dls = np.concatenate(l_parts)
                if deletes is not None and len(deletes):
                    keep = not_deleted_mask(docs, deletes)
                    if not keep.all():
                        docs, tfs, dls = docs[keep], tfs[keep], dls[keep]
                        p_parts = [p for p, k in zip(p_parts, keep) if k]
                if not len(docs):
                    continue
                order = np.argsort(docs, kind="stable")
                yield (
                    term,
                    docs[order],
                    tfs[order],
                    dls[order],
                    [p_parts[i] for i in order],
                )

        return encode_sorted_terms(shard, term_arrays())

    df = postings
    if "tb" not in df.columns:
        from google_spark.operators.index_build import term_bucket_col

        df = df.withColumn("tb", term_bucket_col("term"))
    return df.groupBy("tb", "shard").applyInPandas(kernel, schema=POSTINGS_SCHEMA)


def _doclens_from_postings(postings: DataFrame) -> DataFrame:
    """(doc_id, dl) pairs recovered from posting blobs (per-batch unique,
    then global distinct) — the compaction fallback when a segment predates
    the doclens sidecar."""

    def gen(batches):
        import pandas as pd

        from google_spark.functions.codec import decode_postings_arrays

        for pdf in batches:
            d_out, l_out = [], []
            for blob in pdf["postings"].values:
                docs, _tfs, dls = decode_postings_arrays(bytes(blob))
                d_out.append(docs)
                l_out.append(dls)
            if d_out:
                docs = np.concatenate(d_out)
                dls = np.concatenate(l_out)
                uniq, first = np.unique(docs, return_index=True)
                yield pd.DataFrame(
                    {
                        "doc_id": pd.Series(uniq, dtype="int64"),
                        "dl": pd.Series(dls[first].astype(np.int64), dtype="int64"),
                    }
                )

    return (
        postings.select("postings")
        .mapInPandas(gen, schema="doc_id long, dl long")
        .distinct()
    )


