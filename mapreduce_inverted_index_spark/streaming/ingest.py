"""Incremental corpus ingestion — the S1 "source walker" re-expressed
as a checkpointed file stream.

The reference's master walks paginated category listings and hands
each new batch of URLs to mappers (``master/src/master.py:48-86``):
state = "which pages have I already seen". The Spark-native analog is
a file-stream source over a growing directory with a checkpoint: each
``Trigger.AvailableNow`` run ingests exactly the files that arrived
since the last run, exactly once — the checkpoint IS the walker's
cursor, fault-tolerant and restartable for free.

At 100 TB this is the standing ingestion pattern: drop new corpus
shards into a landing directory (or Kafka topic — same downstream
code), run the ingest on a schedule or continuously, and every
downstream operator reads the growing canonical table.

The maintenance loops fold into partitioned, manifest-committed
stores and commit only through ``operators.store``'s entry points:
the index loops into the bucketed index store, the semantic loop
into its codebook, IVF cell store and dup log, the cell-takedown
loop into the cell store. This module holds fold logic only — it
renames and removes no files itself. A directory without a store
manifest is refused, failing the micro-batch so it replays after a
reseed.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduce_inverted_index_spark.operators import store
from mapreduce_inverted_index_spark.operators.store import mutation_lease

__all__ = [
    "stream_text_corpus",
    "ingest_available_now",
    "streamed_doc_ids",
    "maintain_index_available_now",
    "maintain_chunks_available_now",
    "maintain_semantic_cells_available_now",
    "maintain_takedowns_available_now",
    "maintain_cell_takedowns_available_now",
]


def stream_text_corpus(spark: SparkSession, path: str) -> DataFrame:
    """Unbounded analog of ``sources.formats.read_text_corpus``: one
    row per newly-arrived text file, ``(source STRING, text STRING)``.
    (Stable doc_ids for streamed docs come from content/provenance —
    e.g. ``xxhash64(source)`` — not a global counter, which can't
    exist on an unbounded stream.)"""
    return (
        spark.readStream.format("text")
        .option("wholetext", "true")
        .load(path)
        .select(
            F.input_file_name().alias("source"),
            F.col("value").alias("text"),
        )
    )


def ingest_available_now(
    stream: DataFrame, sink_path: str, checkpoint_path: str
) -> None:
    """Run one AvailableNow ingestion pass: append every not-yet-seen
    file to the Parquet sink and advance the checkpoint cursor.
    Re-running after new files arrive ingests ONLY the new files;
    re-running with nothing new is a no-op (exactly-once per file).
    """
    q = (
        stream.writeStream.format("parquet")
        .option("path", sink_path)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def streamed_doc_ids(corpus: DataFrame) -> DataFrame:
    """``(source, text) → (doc_id, text)`` with provenance-stable ids:
    ``xxhash64(source)``. A global dense counter can't exist on an
    unbounded stream; a content/provenance hash gives every batch AND
    any batch replay the same id for the same file, which is what
    exactly-once maintenance needs.
    """
    return corpus.select(
        F.xxhash64("source").alias("doc_id"), F.col("text")
    )


def maintain_chunks_available_now(
    spark: SparkSession,
    sf_dir: str,
    sink_dir: str,
    checkpoint_path: str,
    glob: str = "documents.parquet",
) -> None:
    """Incremental RAG-chunk maintenance: one AvailableNow pass chunks
    exactly the document files that arrived since the last pass and
    APPENDS their chunks to the sink — exactly-once per file via the
    checkpoint cursor.

    Unlike the index (``maintain_index_available_now``) and the MG
    sketch (``sketches.maintain_frequent_terms_available_now``),
    chunking needs NO merge step: ``chunk_documents`` is a stateless
    per-document map with stable ``(doc_id, chunk_no)`` identity, so
    a plain streaming parquet APPEND is already correct and
    idempotent at the file level — per-pass cost is O(new docs),
    zero state, zero rewrite. This is the cheap tier of incremental
    maintenance; the invariant (pytest-pinned) is that after any
    number of passes the sink equals batch ``chunk_documents`` over
    everything ingested so far. Downstream, the embedder processes
    only the appended files (their paths are the delta).
    """
    from mapreduce_inverted_index_spark.operators.passages import (
        chunk_documents,
    )
    from mapreduce_inverted_index_spark.streaming.sketches import docs_stream

    chunks = chunk_documents(docs_stream(spark, sf_dir, glob))
    q = (
        chunks.writeStream.format("parquet")
        .option("path", sink_dir)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def maintain_index_available_now(
    spark: SparkSession, corpus_path: str, index_dir: str, checkpoint_path: str
) -> None:
    """Stream-maintained inverted index: one AvailableNow pass indexes
    exactly the files that arrived since the last pass and folds them
    into the bucketed index store (``write_index_store`` layout) via
    :func:`operators.inverted_index.merge_into_index_store` (delta
    build + term-keyed full-outer merge of only the bucket dirs the
    delta's vocabulary hashes into — the same partition-local
    discipline as the takedown loop's DELETE).

    This replaces the reference's re-run-the-whole-job model
    (``master/src/master.py:123-176`` rebuilds the index from scratch
    per /scrape): cost per pass is O(new docs) + O(touched buckets),
    not O(corpus). Invariant (pytest-pinned): after every pass the
    stored index equals a batch ``build_index`` over all files so far.

    A missing ``index_dir`` is seeded by the first non-empty batch
    (``write_index_store(delta)``); an existing directory without a
    store manifest (flat, or a seed that died before its commit)
    fails the micro-batch loud, uncommitted, until it is reseeded. On
    a real cluster the same foreachBatch body targets a transactional
    table format (Iceberg/Delta MERGE); the dir swaps are the
    filesystem-only stand-in for that commit.
    """
    from mapreduce_inverted_index_spark.operators.inverted_index import (
        build_index,
        merge_into_index_store,
        write_index_store,
    )

    def _fold(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.take(1):
            return
        sess = batch_df.sparkSession
        # single-writer guard: a concurrent writer's entry recovery
        # would roll back THIS fold's in-flight swap (store.
        # mutation_lease docstring); the leaf mutator re-enters
        with mutation_lease(index_dir):
            delta = build_index(streamed_doc_ids(batch_df))
            if os.path.isdir(index_dir):
                merge_into_index_store(sess, index_dir, delta)
            else:
                write_index_store(delta, index_dir)

    q = (
        stream_text_corpus(spark, corpus_path)
        .writeStream.foreachBatch(_fold)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def maintain_semantic_cells_available_now(
    spark: SparkSession,
    emb_dir: str,
    state_dir: str,
    checkpoint_path: str,
    glob: str = "*.parquet",
    n_cells: int = 16,
    tau: float = 0.4,
    r: int = 3,
    max_files_per_cell: "int | None" = 8,
) -> None:
    """Stream-maintained semantic-dedup state — the embedding-space
    twin of the MinHash/chunk/index maintenance loops: each
    ``Trigger.AvailableNow`` pass processes exactly the embedding
    files that arrived since the last pass (checkpoint cursor =
    exactly-once per file) and, per micro-batch,

    1. assigns the batch to cells against the STORED codebook and
       APPENDS it to ``state_dir/cells`` (partition column ``cell``)
       — so the state the NEXT batch probes stays partition-pruned;
    2. dedups the batch against the PRIOR cells via
       ``similarity.semantic_incremental_dedup`` (batch × probed
       cells, never batch × corpus) and APPENDS the matches to
       ``state_dir/dups`` (partition column ``batch``, the
       micro-batch that found the pair) — the takedown/skip list a
       training pipeline consumes.

    The codebook (``state_dir/cents``, a one-partition store) is
    trained on the first batch, then frozen on disk — every later
    batch assigns against the same floats, which is what makes state
    == batch ``ivf_assign`` over everything ingested (the multi-pass
    pytest invariant). It is (re)seeded whenever the cell store does
    not exist yet: no vector has been assigned against any codebook
    until then, so a seed that died before its commit is simply
    redone. Batches are deduped against PRIOR state only
    (within-batch duplicates are the batch operator
    ``semantic_dedup``'s job, same contract as
    ``dedup.minhash_incremental_dedup``).

    Self-healing layout: the ADD loop appends one file per micro-
    batch per cell, so N passes would leave probe scans opening
    O(passes x cells) files. When a maintenance pass completes, any
    cell that crossed ``max_files_per_cell`` is compacted in place
    (``similarity.compact_ivf_cells`` — row content untouched,
    pytest-pinned across multiple passes), so the store's file count
    stays bounded without a manual compaction schedule. Pass ``None``
    to disable (e.g. when an external table service owns compaction).

    Durability: every state commits through ``operators.store``.
    Both appends go through ``store.append_partitions`` —
    deterministic ``batch-<id>``-named files, so a micro-batch
    replayed after a crash (sink writes landed, checkpoint commit did
    not) OVERWRITES its own files instead of appending duplicates.
    The cell append runs first because it runs the entry-time crash
    recovery: the prior-state read that follows opens a healed,
    committed snapshot (``store.open_snapshot``), never a store a
    crashed compaction left half-swapped. That read excludes the
    batch's own cells file, so a replay derives identical matches
    (pytest-pinned by a deleted-commit-marker replay test). A
    production deployment still prefers a transactional table format
    (Iceberg/Delta) keyed by ``(batch_id, vec_id)`` — this is its
    bare-filesystem analog. Per-pass cost: O(batch × r/n_cells of
    state) for the dedup + O(batch) for the appends — state is never
    rewritten.
    """
    from mapreduce_inverted_index_spark.operators.similarity import (
        ivf_assign,
        ivf_centroids,
        semantic_incremental_dedup,
    )

    cents_dir = f"{state_dir}/cents"
    cells_dir = f"{state_dir}/cells"
    dups_dir = f"{state_dir}/dups"
    schema = spark.read.option("pathGlobFilter", glob).parquet(emb_dir).schema
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", glob)
        .parquet(emb_dir)
    )

    def _fold(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.take(1):
            return
        sess = batch_df.sparkSession
        # lease on the CELL store — the state shared with the takedown
        # twin (maintain_cell_takedowns_available_now / compact):
        # overlapping with either would let its entry recovery roll
        # back this fold's appends mid-batch. It also serializes the
        # codebook seed decision; the store entry points re-enter it.
        with mutation_lease(cells_dir):
            if not os.path.isdir(cells_dir):
                store.seed_store(
                    ivf_centroids(batch_df, n_cells, 3).withColumn(
                        "part", F.lit(0)
                    ),
                    cents_dir,
                    "part",
                )
            # every batch assigns against the on-disk floats, not a
            # recomputed lineage
            cents = store.open_snapshot(sess, cents_dir, "part")[0].drop(
                "part"
            )
            store.append_partitions(
                ivf_assign(batch_df, cents),
                cells_dir,
                "cell",
                batch_id,
            )
            prior = store.open_snapshot(sess, cells_dir, "cell")[0].where(
                ~F.input_file_name().contains(f"batch-{batch_id}.parquet")
            )
            dups = semantic_incremental_dedup(
                batch_df,
                prior,
                cents,
                tau=tau,
                r=r,
            )
            store.append_partitions(
                dups.withColumn("batch", F.lit(batch_id)),
                dups_dir,
                "batch",
                batch_id,
            )

    q = (
        stream.writeStream.foreachBatch(_fold)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    if max_files_per_cell is not None and os.path.isdir(cells_dir):
        from mapreduce_inverted_index_spark.operators.similarity import (
            compact_ivf_cells,
        )

        compact_ivf_cells(spark, cells_dir, max_files_per_cell)


def _takedown_loop(
    spark: SparkSession,
    takedown_dir: str,
    glob: str,
    checkpoint_path: str,
    state_dir: str,
    fold,
) -> None:
    """Shared AvailableNow scaffolding for the erasure queues: file
    stream over the id directory, empty-batch skip, then the
    state-specific ``fold(batch_df)`` inside the store's lease. The
    fold's mutator refuses a store with no manifest (not built yet,
    flat, or half-seeded), which FAILS the micro-batch: it stays
    uncommitted and replays once the store is seeded — a silent
    return would checkpoint erasure ids away forever."""
    schema = (
        spark.read.option("pathGlobFilter", glob).parquet(takedown_dir).schema
    )
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", glob)
        .parquet(takedown_dir)
    )

    def _fold(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.take(1):
            return
        # single-writer guard: concurrent with the matching ADD loop
        # (or a second takedown), the other writer's entry recovery
        # would roll back this fold's in-flight swap — fail loud
        # instead (store.mutation_lease docstring); leaf mutators
        # re-enter the lease
        with mutation_lease(state_dir):
            fold(batch_df)

    q = (
        stream.writeStream.foreachBatch(_fold)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def maintain_takedowns_available_now(
    spark: SparkSession,
    takedown_dir: str,
    index_dir: str,
    checkpoint_path: str,
    glob: str = "*.parquet",
) -> None:
    """The DELETE side of stream maintenance — a takedown queue
    (GDPR erasure, opt-outs, retention expiry) as a checkpointed file
    stream: each AvailableNow pass folds exactly the takedown-id
    files that arrived since the last pass into the bucketed index
    store (``write_index_store`` layout).

    Each batch folds via ``delete_from_index_store``: one job
    collects the batch's ids, a locate scan finds the bucket
    partitions whose postings contain them, and a row-local rewrite
    filters those buckets' postings in place (no shuffle) and commits
    with the shared crash-safe dir swap. Untouched buckets keep their
    files, but a page-length doc has terms in nearly every bucket, so
    the skip pays off only for very short docs or many buckets; the
    rewrite still reads and writes the affected buckets whole. A
    directory that is not a store (no manifest) fails the micro-batch
    instead of no-opping it away.

    Together with the ADD loops (index/chunks/MG/semantic cells) this
    closes the maintenance pair: a corpus pipeline runs both on a
    schedule and the stored state tracks ingest MINUS erasure without
    ever re-reading document text. Invariant (pytest-pinned): after
    any pass history, the stored index equals ``build_index`` of the
    ingested corpus minus every taken-down doc_id. Ids with no
    postings (already deleted, never ingested) fold through as
    no-ops — takedown queues are idempotent by nature.
    """
    from mapreduce_inverted_index_spark.operators.inverted_index import (
        delete_from_index_store,
    )

    def fold(batch_df: DataFrame) -> None:
        delete_from_index_store(
            batch_df.sparkSession, index_dir, batch_df.select("doc_id")
        )

    _takedown_loop(
        spark, takedown_dir, glob, checkpoint_path, index_dir, fold
    )


def maintain_cell_takedowns_available_now(
    spark: SparkSession,
    takedown_dir: str,
    cells_dir: str,
    checkpoint_path: str,
    glob: str = "*.parquet",
) -> None:
    """The embedding-state twin of
    :func:`maintain_takedowns_available_now`: a checkpointed erasure
    queue of ``vec_id`` files folds into the IVF cell store via
    ``similarity.delete_from_ivf_cells`` — per batch, only the cell
    partitions containing the batch's ids rewrite (tmp-write +
    per-cell dir swap); everything else keeps its exact files. With
    this, both stored states (text index, embedding cells) have the
    full streaming lifecycle: ADD (ingest loops), DELETE (takedown
    queues), and for cells COMPACT (:func:`similarity.
    compact_ivf_cells`). A missing cell store fails the micro-batch
    (uncommitted → replays once the store exists), never silently
    commits erasure ids away.
    """
    from mapreduce_inverted_index_spark.operators.similarity import (
        delete_from_ivf_cells,
    )

    def fold(batch_df: DataFrame) -> None:
        delete_from_ivf_cells(
            batch_df.sparkSession, cells_dir, batch_df.select("vec_id")
        )

    _takedown_loop(
        spark, takedown_dir, glob, checkpoint_path, cells_dir, fold
    )
