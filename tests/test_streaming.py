"""Structured Streaming: micro-batch index ingestion equals batch build;
watermarked windowed aggregation."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F


def test_stream_ingest_equals_batch_build(spark, tmp_path):
    from google_spark.operators.index_build import build_index
    from google_spark.operators.index_query import wand_topk_local
    from google_spark.streaming.ingest import (
        finalize_stream_index,
        stream_index_builder,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    # drip the corpus into the watched dir as 5 separate files
    in_dir = str(tmp_path / "incoming")
    os.makedirs(in_dir)
    for i in range(5):
        docs.filter(F.col("doc_id") % 5 == i).coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{in_dir}/part{i}.parquet")

    out = str(tmp_path / "sidx")
    q = stream_index_builder(spark, f"{in_dir}/*", out)
    q.awaitTermination(240)
    assert not q.isActive  # availableNow drains and stops

    idx = finalize_stream_index(spark, out, total_docs=docs.count())
    batch_idx = build_index(spark, docs, id_col="doc_id", text_col="text")
    for query in ("hash join", "data"):
        a = [(d, round(s, 9)) for d, s in wand_topk_local(idx, query, k=10)]
        b = [(d, round(s, 9)) for d, s in wand_topk_local(batch_idx, query, k=10)]
        assert a == b, query


def test_windowed_event_counts_batch_parity(spark):
    """The same plan runs in batch mode; compare against a plain groupBy on
    truncated timestamps."""
    from google_spark.streaming.ingest import windowed_event_counts

    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    got = {
        (r["window_start"], r["event_type"]): (r["n_events"], round(r["sum_value"], 6))
        for r in windowed_event_counts(events).collect()
    }
    want = {
        (r["ws"], r["event_type"]): (r["n"], round(r["s"], 6))
        for r in events.groupBy(
            F.date_trunc("hour", "ts").alias("ws"), "event_type"
        )
        .agg(F.count("*").alias("n"), F.sum("value").alias("s"))
        .collect()
    }
    assert got == want and len(got) > 0


def test_windowed_event_counts_streaming_with_watermark(spark, tmp_path):
    """Drive the SAME aggregation as a real stream with a watermark and
    check the complete results against batch mode."""
    from google_spark.streaming.ingest import windowed_event_counts

    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    in_dir = str(tmp_path / "ev")
    events.coalesce(2).write.parquet(in_dir)
    schema = events.schema
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(in_dir)
    )
    out = windowed_event_counts(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("winagg")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(240)
    got = {
        (r["window_start"], r["event_type"]): r["n_events"]
        for r in spark.sql("SELECT * FROM winagg").collect()
    }
    want = {
        (r["window_start"], r["event_type"]): r["n_events"]
        for r in windowed_event_counts(events).collect()
    }
    assert got == want


def test_streaming_session_stats_stateful(spark, tmp_path):
    """applyInPandasWithState sessionization: sessions emitted by the
    stream (in-batch closes + the final watermark timeout pass, which
    drains every remaining state here) must match a batch lag-window
    sessionization of the same data."""
    from pyspark.sql import Window

    from google_spark.streaming.ingest import streaming_session_stats

    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    in_dir = str(tmp_path / "sess_ev")
    events.orderBy("ts").coalesce(1).write.parquet(in_dir)

    schema = events.schema
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(in_dir)
    )
    out = streaming_session_stats(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("sessout")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "sess_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(240)
    got = {
        (r["user_id"], r["session_start"], r["session_end"]): (
            r["n_events"],
            round(r["sum_value"], 6),
        )
        for r in spark.sql("SELECT * FROM sessout").collect()
    }

    # batch reference: lag-window sessionization, drop each user's last session
    ev = events.withColumn("ts", F.col("ts").cast("timestamp"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.col("ts").cast("long") - F.lag(F.col("ts").cast("long")).over(w)
    sess = ev.withColumn(
        "new_sess", F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    ).withColumn("session_id", F.sum("new_sess").over(w))
    agg = sess.groupBy("user_id", "session_id").agg(
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.count("*").alias("n_events"),
        F.sum("value").alias("sum_value"),
    )
    want = {
        (r["user_id"], r["session_start"], r["session_end"]): (
            r["n_events"],
            round(r["sum_value"], 6),
        )
        for r in agg.collect()
    }
    assert len(want) > 0
    assert got == want


def test_stream_appends_to_existing_batches_without_overwrite(spark, tmp_path):
    """A stream targeting an out_dir with committed batch-build batches
    must allocate NEW batch ids (base offset) — not overwrite them — and
    empty epochs must still commit so the final merge has no gaps."""
    from google_spark.operators.incremental import committed_batches, incremental_build
    from google_spark.operators.index_build import build_index
    from google_spark.operators.index_query import wand_topk_local
    from google_spark.streaming.ingest import (
        finalize_stream_index,
        stream_index_builder,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    part_a = docs.filter(F.col("doc_id") < 250)
    part_b = docs.filter(F.col("doc_id") >= 250)

    out = str(tmp_path / "mixed")
    # batch-build part A fully (commits batches 0..1 and merges)
    incremental_build(spark, part_a, out, n_batches=2)
    n_before = set(committed_batches(out, 1_000_000))
    assert n_before == {0, 1}

    # stream part B into the same out_dir, including an EMPTY file
    in_dir = str(tmp_path / "in")
    os.makedirs(in_dir)
    part_b.filter(F.col("doc_id") % 2 == 0).coalesce(1).write.parquet(f"{in_dir}/f0.parquet")
    part_b.filter(F.col("doc_id") < 0).coalesce(1).write.parquet(f"{in_dir}/f1.parquet")  # empty
    part_b.filter(F.col("doc_id") % 2 == 1).coalesce(1).write.parquet(f"{in_dir}/f2.parquet")
    q = stream_index_builder(spark, f"{in_dir}/*", out)
    q.awaitTermination(240)

    after = set(committed_batches(out, 1_000_000))
    assert n_before < after and min(after - n_before) >= 2  # no overwrite

    idx = finalize_stream_index(spark, out, total_docs=docs.count())
    single = build_index(spark, docs, id_col="doc_id", text_col="text")
    for query in ("hash join", "data"):
        a = [(d, round(s, 9)) for d, s in wand_topk_local(idx, query, k=10)]
        b = [(d, round(s, 9)) for d, s in wand_topk_local(single, query, k=10)]
        assert a == b, query


def test_stream_with_midstream_compaction_equals_batch_build(spark, tmp_path):
    """Long-running-stream lifecycle: ingest 3 files -> stop -> compact the
    committed epochs into one segment -> GC the epoch dirs -> resume the
    stream (same checkpoint; epoch base preserved) with 2 more files ->
    finalize. The published index must equal the batch build, and lineage
    must still carry one row per streaming epoch."""
    from google_spark.operators.incremental import (
        committed_batches,
        committed_segments,
        compact_batches,
        gc_compacted,
        write_lineage,
    )
    from google_spark.operators.index_build import build_index
    from google_spark.operators.index_query import wand_topk_local
    from google_spark.streaming.ingest import (
        finalize_stream_index,
        stream_index_builder,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    in_dir = str(tmp_path / "incoming2")
    os.makedirs(in_dir)
    for i in range(3):
        docs.filter(F.col("doc_id") % 5 == i).coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{in_dir}/part{i}.parquet")

    out = str(tmp_path / "sidx2")
    ckpt = str(tmp_path / "ckpt2")
    q = stream_index_builder(spark, f"{in_dir}/*", out, checkpoint_dir=ckpt)
    q.awaitTermination(240)
    done = committed_batches(out)
    assert len(done) >= 1
    lo, hi = min(done), max(done)
    compact_batches(spark, out, lo, hi)
    assert committed_segments(out) == [(lo, hi)]
    assert sorted(gc_compacted(out)) == list(range(lo, hi + 1))

    for i in range(3, 5):
        docs.filter(F.col("doc_id") % 5 == i).coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{in_dir}/part{i}.parquet")
    q2 = stream_index_builder(spark, f"{in_dir}/*", out, checkpoint_dir=ckpt)
    q2.awaitTermination(240)

    idx = finalize_stream_index(spark, out, total_docs=docs.count())
    batch_idx = build_index(spark, docs, id_col="doc_id", text_col="text")
    for query in ("hash join", "data"):
        a = [(d, round(s, 9)) for d, s in wand_topk_local(idx, query, k=10)]
        b = [(d, round(s, 9)) for d, s in wand_topk_local(batch_idx, query, k=10)]
        assert a == b, query
    # lineage: every epoch accounted for, doc counts sum to the corpus
    n_epochs = max(committed_batches(out) + [hi]) + 1
    lineage = write_lineage(spark, out, n_epochs)
    rows = lineage.collect()
    assert {r["batch"] for r in rows} == set(range(n_epochs))
    assert sum(r["n_docs"] for r in rows) == docs.count()

    # compact EVERYTHING (hierarchically, over the first segment) and GC:
    # finalize must still publish, from segments alone, byte-identically
    compact_batches(spark, out, 0, n_epochs - 1)
    gc_compacted(out)
    assert committed_batches(out) == []
    idx2 = finalize_stream_index(spark, out, total_docs=docs.count())
    a = [(d, round(s, 9)) for d, s in wand_topk_local(idx2, "hash join", k=10)]
    b = [(d, round(s, 9)) for d, s in wand_topk_local(batch_idx, "hash join", k=10)]
    assert a == b


def test_streaming_dedup_stream_and_batch(spark, tmp_path):
    """streaming_dedup drops same-content docs across micro-batches (state
    on sha256, never text); batch mode keeps one row per distinct content,
    same as exact_dedup's grouping."""
    from pyspark.sql.functions import col
    from google_spark.streaming.ingest import streaming_dedup

    rows = [
        (1, "same content here for dedup", "2024-01-01 10:00:00"),
        (2, "same content here for dedup", "2024-01-01 10:05:00"),  # dup
        (3, "unique content one", "2024-01-01 10:10:00"),
        (4, "unique content two", "2024-01-01 11:00:00"),
        (5, "same content here for dedup", "2024-01-01 11:30:00"),  # dup
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, ts string")

    # batch mode: keep-smallest-id per content — exact_dedup parity
    from google_spark.operators.dedup import exact_dedup

    batch = streaming_dedup(docs, ts_col="ts")
    assert {r["doc_id"] for r in batch.collect()} == {
        r["doc_id"] for r in exact_dedup(docs).collect()
    } == {1, 3, 4}

    # stream mode: drip the rows as files, collect via memory sink
    in_dir = str(tmp_path / "dd_in")
    os.makedirs(in_dir)
    for i, r in enumerate(rows):
        spark.createDataFrame([r], "doc_id long, text string, ts string") \
            .coalesce(1).write.mode("overwrite").parquet(f"{in_dir}/f{i}.parquet")
    stream = spark.readStream.schema("doc_id long, text string, ts string") \
        .option("maxFilesPerTrigger", 1).parquet(f"{in_dir}/*")
    q = (
        streaming_dedup(stream, ts_col="ts")
        .writeStream.format("memory").queryName("dd_out")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(240)
    got = {r["doc_id"] for r in spark.sql("SELECT doc_id FROM dd_out").collect()}
    # first arrival of the dup content wins; 2 and 5 dropped
    assert got == {1, 3, 4}


def test_streaming_near_dedup(spark, tmp_path):
    """Cross-epoch NEAR dedup against the parquet signature store: a
    near-copy arriving epochs later is dropped even though streaming
    state holds nothing; the dedup horizon is the whole corpus."""
    from google_spark.streaming.ingest import streaming_near_dedup

    base = (
        "the quick brown fox jumps over the lazy dog again and again "
        "while the cat watches from the warm windowsill nearby today"
    )
    other = (
        "completely different text about building inverted indexes with "
        "posting lists compressed by delta gap varint encoding schemes"
    )
    files = [
        [(1, base), (2, other)],                      # epoch 0
        [(3, base + " tiny tail")],                   # epoch 1: near-dup of 1
        [(4, "novel third document about streaming watermarks and state "
             "eviction policies in micro batch engines today")],
        [(5, other + " extra")],                      # epoch 3: near-dup of 2
    ]
    in_dir = str(tmp_path / "nd_in")
    os.makedirs(in_dir)
    for i, rows in enumerate(files):
        spark.createDataFrame(rows, "doc_id long, text string") \
            .coalesce(1).write.mode("overwrite").parquet(f"{in_dir}/f{i}.parquet")
    store = str(tmp_path / "nd_store")
    out = str(tmp_path / "nd_out")
    stream = spark.readStream.schema("doc_id long, text string") \
        .option("maxFilesPerTrigger", 1).parquet(f"{in_dir}/*")
    q = (
        streaming_near_dedup(stream, store, out, threshold=0.5)
        .option("checkpointLocation", str(tmp_path / "nd_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(240)
    kept = {
        r["doc_id"]
        for r in spark.read.parquet(f"{out}/epoch=*").collect()
    }
    assert kept == {1, 2, 4}  # 3 and 5 near-dup earlier epochs' docs
    # the store grew to exactly the survivors
    sigs = spark.read.parquet(f"{store}/sigs.parquet")
    assert {r["doc_id"] for r in sigs.select("doc_id").collect()} == {1, 2, 4}


def test_streaming_near_dedup_cluster_canonical(spark, tmp_path):
    """VERDICT r3 #3: within-batch near-dedup is CLUSTER-canonical — for a
    V-shaped near-dup graph X~Z, Y~Z (X and Y unrelated) all three docs
    form ONE component and exactly the minimum id survives; the old
    pairwise larger-id dropping kept {X, Y}, two 'canonicals' from one
    cluster."""
    from google_spark.streaming.ingest import streaming_near_dedup

    half_a = ["qa%d" % i for i in range(40)]
    half_b = ["qb%d" % i for i in range(40)]
    x = " ".join(half_a)
    y = " ".join(half_b)
    z = " ".join(half_a + half_b)  # J(Z,X) ~= J(Z,Y) ~= 0.47, J(X,Y) = 0
    in_dir = str(tmp_path / "cc_in")
    os.makedirs(in_dir)
    spark.createDataFrame(
        [(1, x), (2, y), (3, z)], "doc_id long, text string"
    ).coalesce(1).write.parquet(f"{in_dir}/f0.parquet")

    store = str(tmp_path / "cc_store")
    out = str(tmp_path / "cc_out")
    stream = spark.readStream.schema("doc_id long, text string").parquet(
        f"{in_dir}/*"
    )
    q = (
        # 16 bands x 1 row: LSH recall at J ~= 0.47 is 1-(1-0.47)^16 ~= 1,
        # so the candidate generation is deterministic at this low threshold
        streaming_near_dedup(
            stream, store, out, threshold=0.4, lsh_hashes=16, lsh_bands=16
        )
        .option("checkpointLocation", str(tmp_path / "cc_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(240)
    kept = {r["doc_id"] for r in spark.read.parquet(f"{out}/epoch=*").collect()}
    assert kept == {1}  # one canonical per component, not {1, 2}


def test_stream_to_catalog_appends_and_serves(spark, corpus_df, tmp_path):
    """Streaming ingest INTO the snapshot catalog: each epoch lands as one
    tagged append (exactly-once on replay), time travel sees each epoch,
    and a catalog-backed SearchEngine picks up streamed docs on its next
    query with no restart."""
    from google_spark.operators.catalog import SnapshotCatalog
    from google_spark.search import SearchEngine
    from google_spark.sources.tables import with_doc_identity
    from google_spark.streaming.ingest import (
        append_epoch_to_catalog,
        stream_to_catalog,
    )

    seed = with_doc_identity(corpus_df).select(
        "doc_id", F.col("content").alias("text")
    )
    cat = SnapshotCatalog(str(tmp_path / "stream_cat"))
    cat.commit_build(spark, seed, id_col="doc_id", text_col="text")
    base_v = cat.head()
    eng = SearchEngine.from_catalog(spark, cat)
    assert eng.search("zzstreamterm", k=3) == []

    in_dir = str(tmp_path / "stream_in")
    os.makedirs(in_dir)
    epochs = [
        [(900000001, "zzstreamterm appears in the first streamed epoch "
                     "zzstreamterm again for weight")],
        [(900000002, "second epoch document about watermark state "
                     "eviction and zzstreamterm too")],
    ]
    for i, rows in enumerate(epochs):
        spark.createDataFrame(rows, "doc_id long, text string") \
            .coalesce(1).write.parquet(f"{in_dir}/f{i}.parquet")
    q = stream_to_catalog(
        spark, f"{in_dir}/*", cat,
        checkpoint_dir=str(tmp_path / "sc_ckpt"),
        max_files_per_trigger=1,
    )
    q.awaitTermination(240)

    # both epochs landed as tagged appends
    tagged = [
        m for m in cat.log() if m["summary"].get("stream_id") == "stream"
    ]
    assert {m["summary"]["stream_epoch"] for m in tagged} == {0, 1}
    assert cat.head() == base_v + 2
    # the engine sees the streamed docs without being rebuilt
    got = {r.doc_id for r in eng.search("zzstreamterm", k=5)}
    assert got == {900000001, 900000002}
    # time travel: the first epoch's snapshot has only the first doc
    v1 = tagged[0]["version"]
    from google_spark.operators.index_query import wand_topk

    ids_v1 = {
        r["doc_id"]
        for r in wand_topk(cat.read(spark, version=v1), "zzstreamterm", k=5).collect()
    }
    assert ids_v1 == {900000001}

    # replayed epoch = no-op (the manifest tag makes the append idempotent)
    replay = spark.createDataFrame(epochs[0], "doc_id long, text string")
    assert append_epoch_to_catalog(cat, replay, 0) is None
    assert cat.head() == base_v + 2
    # a NEW epoch through the same helper still commits
    extra = spark.createDataFrame(
        [(900000003, "third epoch fresh content")], "doc_id long, text string"
    )
    assert append_epoch_to_catalog(cat, extra, 2) == base_v + 3


def test_epoch_guard_survives_manifest_expiry(spark, corpus_df, tmp_path):
    """Review r4: the exactly-once guard must not depend on manifest
    retention. After maintenance (delete/compact/expire) drops the
    manifest that carried an epoch's tag, the HEAD summary's carried-
    forward stream_epochs high-water mark still marks the epoch done, so
    a replay stays a no-op instead of double-indexing its docs."""
    from google_spark.operators.catalog import SnapshotCatalog
    from google_spark.sources.tables import with_doc_identity
    from google_spark.streaming.ingest import append_epoch_to_catalog

    seed = with_doc_identity(corpus_df).select(
        "doc_id", F.col("content").alias("text")
    )
    cat = SnapshotCatalog(str(tmp_path / "hwm_cat"))
    cat.commit_build(spark, seed, id_col="doc_id", text_col="text")

    batch = spark.createDataFrame(
        [(900000001, "zzhwmterm exactly once even after expiry")],
        "doc_id long, text string",
    )
    v_epoch = append_epoch_to_catalog(cat, batch, 0, stream_id="s1")
    assert v_epoch is not None
    n_after_epoch = int(cat.manifest().summary["n_docs"])

    # maintenance: a compact commit supersedes the tagged manifest, then
    # expire drops it entirely
    cat.compact(spark)
    cat.expire(keep_last=1, orphan_grace_s=0.0)
    assert all(
        m["summary"].get("stream_epoch") != 0
        or m["summary"].get("stream_id") != "s1"
        for m in cat.log()
    ), "precondition: the tagged manifest is really gone"
    # ...but the HWM rode the compact commit
    assert cat.manifest().summary["stream_epochs"] == {"s1": 0}

    # replay of epoch 0 is STILL a no-op
    head_before = cat.head()
    assert append_epoch_to_catalog(cat, batch, 0, stream_id="s1") is None
    assert cat.head() == head_before
    assert int(cat.manifest().summary["n_docs"]) == n_after_epoch

    # a fresh epoch (and an unrelated stream) still commit
    nxt = spark.createDataFrame(
        [(900000002, "zzhwmterm second epoch")], "doc_id long, text string"
    )
    assert append_epoch_to_catalog(cat, nxt, 1, stream_id="s1") is not None
    assert cat.manifest().summary["stream_epochs"] == {"s1": 1}
    other = spark.createDataFrame(
        [(900000003, "other stream doc")], "doc_id long, text string"
    )
    assert append_epoch_to_catalog(cat, other, 0, stream_id="s2") is not None
    assert cat.manifest().summary["stream_epochs"] == {"s1": 1, "s2": 0}


def test_rollback_resets_stream_marks_and_replays(spark, corpus_df, tmp_path):
    """Review r4: rollback() must pin the TARGET's stream high-water marks
    (empty when the target predates streaming) — inheriting the rolled-
    back head's marks would brand the discarded epochs committed forever
    and silently lose their data on replay. The legacy per-manifest-tag
    fallback must likewise ignore the discarded branch's manifests (it
    walks head's parent chain, not the whole version log)."""
    from google_spark.operators.catalog import SnapshotCatalog
    from google_spark.sources.tables import with_doc_identity
    from google_spark.streaming.ingest import append_epoch_to_catalog

    seed = with_doc_identity(corpus_df).select(
        "doc_id", F.col("content").alias("text")
    )
    cat = SnapshotCatalog(str(tmp_path / "rb_cat"))
    base_v = cat.commit_build(spark, seed, id_col="doc_id", text_col="text")
    n_base = int(cat.manifest().summary["n_docs"])

    epochs = [
        [(900000001, "zzrollterm first epoch doc")],
        [(900000002, "zzrollterm second epoch doc")],
    ]
    for i, rows in enumerate(epochs):
        batch = spark.createDataFrame(rows, "doc_id long, text string")
        assert append_epoch_to_catalog(cat, batch, i, stream_id="s1") is not None
    assert cat.manifest().summary["stream_epochs"] == {"s1": 1}

    # operator discards the bad stream data and resets the checkpoint
    cat.rollback(base_v)
    m = cat.manifest()
    assert m.operation == "rollback"
    assert m.summary["stream_epochs"] == {}
    assert "stream_id" not in m.summary and "stream_epoch" not in m.summary
    assert int(m.summary["n_docs"]) == n_base

    # the discarded branch's tagged manifests still exist on disk (time
    # travel), but must NOT mark the epochs done on the new branch
    replay = spark.createDataFrame(epochs[0], "doc_id long, text string")
    v = append_epoch_to_catalog(cat, replay, 0, stream_id="s1")
    assert v is not None, "rolled-back epoch must be allowed to re-append"
    assert cat.manifest().summary["stream_epochs"] == {"s1": 0}
    # and the guard still dedupes once re-appended
    assert append_epoch_to_catalog(cat, replay, 0, stream_id="s1") is None


def test_stream_to_catalog_keeps_trigram_fresh(spark, corpus_df, tmp_path):
    """VERDICT r4 #5: with ``trigram_dir``, every streamed epoch also
    lands as a tagged trigram segment — grep/regex search sees the new
    docs after the epoch commit, a replayed epoch is exactly-once, the
    high-water mark survives compaction, and a catalog-backed engine
    re-opens the disk trigram index on refresh."""
    from google_spark.operators.catalog import SnapshotCatalog
    from google_spark.operators.trigram import (
        append_epoch_to_trigram,
        build_trigram_index,
        compact_trigram_index,
        read_trigram_index,
        regex_search,
        trigram_epoch_done,
        trigram_segments,
        write_trigram_index,
    )
    from google_spark.search import SearchEngine
    from google_spark.sources.tables import with_doc_identity
    from google_spark.streaming.ingest import stream_to_catalog

    seed = with_doc_identity(corpus_df).select(
        "doc_id", F.col("content").alias("text")
    )
    cat = SnapshotCatalog(str(tmp_path / "tcat"))
    cat.commit_build(spark, seed, id_col="doc_id", text_col="text")
    tri_dir = str(tmp_path / "tri_stream")
    write_trigram_index(
        build_trigram_index(spark, seed, text_col="text", n_shards=2),
        tri_dir,
    )
    eng = SearchEngine.from_catalog(
        spark, cat, trigram_index=read_trigram_index(spark, tri_dir)
    )

    in_dir = str(tmp_path / "tri_in")
    os.makedirs(in_dir)
    epochs = [
        [(910000001, "first epoch carries qqzzgrepfresh marker text")],
        [(910000002, "second epoch also says qqzzgrepfresh loudly")],
    ]
    for i, rows in enumerate(epochs):
        spark.createDataFrame(rows, "doc_id long, text string") \
            .coalesce(1).write.parquet(f"{in_dir}/f{i}.parquet")
    q = stream_to_catalog(
        spark, f"{in_dir}/*", cat,
        checkpoint_dir=str(tmp_path / "tri_ckpt"),
        max_files_per_trigger=1,
        trigram_dir=tri_dir,
    )
    q.awaitTermination(240)

    streamed = spark.createDataFrame(
        [r for rows in epochs for r in rows], "doc_id long, text string"
    )
    all_docs = seed.unionByName(streamed)
    idx = read_trigram_index(spark, tri_dir)
    got = {
        r.doc_id
        for r in regex_search(
            spark, idx, all_docs, r"qqzzgrepfresh", limit=10
        ).collect()
    }
    assert got == {910000001, 910000002}
    n_segs = len(trigram_segments(tri_dir))
    assert n_segs == 2

    # a catalog-backed engine re-opens the disk index on refresh (the
    # stream moved HEAD, so its next query triggers exactly that)
    eng.refresh()
    got = {
        r.doc_id
        for r in regex_search(
            spark, eng.trigram_index, all_docs, r"qqzzgrepfresh", limit=10
        ).collect()
    }
    assert got == {910000001, 910000002}

    # replayed epoch = no-op (segment-marker tag)
    replay = spark.createDataFrame(epochs[0], "doc_id long, text string")
    assert append_epoch_to_trigram(spark, tri_dir, replay, 0) is None
    assert len(trigram_segments(tri_dir)) == n_segs

    # compaction folds the segments away but carries the epoch HWM
    dest = str(tmp_path / "tri_compacted")
    compact_trigram_index(spark, tri_dir, dest)
    assert trigram_segments(dest) == []
    assert trigram_epoch_done(dest, "stream", 0)
    assert trigram_epoch_done(dest, "stream", 1)
    assert not trigram_epoch_done(dest, "stream", 2)
    assert append_epoch_to_trigram(spark, dest, replay, 1) is None
    # a genuinely NEW epoch still lands post-compaction
    nxt = spark.createDataFrame(
        [(910000003, "third epoch qqzzgrepfresh after compaction")],
        "doc_id long, text string",
    )
    assert append_epoch_to_trigram(spark, dest, nxt, 2) == 1
    idx2 = read_trigram_index(spark, dest)
    got = {
        r.doc_id
        for r in regex_search(
            spark, idx2,
            all_docs.unionByName(nxt), r"qqzzgrepfresh", limit=10,
        ).collect()
    }
    assert got == {910000001, 910000002, 910000003}
