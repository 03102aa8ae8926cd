"""Stream-maintained frequency sketches: the unbounded-input analog
of ``operators.sketches.frequent_items``.

A batch job can always re-scan for the exact verify; a stream
cannot. The standing pattern is: maintain a BOUNDED Misra-Gries
summary as streaming state (k counters, merged per micro-batch —
MG merge is associative, undercount ≤ N/(k+1) total), and run the
exact verify as a batch join against the canonical table whenever
an answer is needed. Candidates are a guaranteed superset of the
true φ-heavy items at every point in the stream, so the verify
never misses — the same two-phase contract as the batch operator,
with phase 1 incremental.

State lives as a tiny Parquet table (≤ k rows) rewritten per batch —
the filesystem stand-in for a transactional state table. It is a
one-partition store of the shared format (``operators.store``;
constant partition column ``part``, which readers drop): the first
fold seeds it with ``store.seed_store``, every later fold commits
with ``store.rewrite_partitions``, whose entry-time crash recovery
rolls a half-done commit back so the replayed batch folds exactly
once. Readers open it with ``store.open_snapshot``.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduce_inverted_index_spark.functions.text import terms
from mapreduce_inverted_index_spark.operators import store

__all__ = [
    "docs_stream",
    "mg_merge_summaries",
    "maintain_frequent_terms_available_now",
    "verified_heavy_terms",
]


def docs_stream(
    spark: SparkSession, sf_dir: str, glob: str = "documents.parquet"
) -> DataFrame:
    """The documents table as an unbounded stream (file-stream source
    over the fixture directory, same pattern as ``events_stream``).
    ``glob`` widens to e.g. ``*.parquet`` for landing directories
    where document shards arrive as separate files."""
    schema = spark.read.option("pathGlobFilter", glob).parquet(sf_dir).schema
    return (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", glob)
        .parquet(sf_dir)
    )


def mg_merge_summaries(summary: DataFrame, batch_counts: DataFrame, k: int) -> DataFrame:
    """Associative Misra-Gries merge: add counts, then if more than
    ``k`` counters survive, subtract the (k+1)-th largest count and
    drop non-positives. Inputs/outputs: ``(term, n)`` with ≤ k rows
    out. Both inputs are tiny (summary ≤ k, batch counts ≤ batch
    vocabulary), so these are small-table ops regardless of stream
    volume."""
    merged = (
        summary.unionByName(batch_counts)
        .groupBy("term")
        .agg(F.sum("n").alias("n"))
    )
    cut = (
        merged.orderBy(F.desc("n"), F.asc("term"))
        .limit(k + 1)
        .agg(F.when(F.count("*") > k, F.min("n")).otherwise(F.lit(0)).alias("cut"))
    )
    return (
        merged.crossJoin(F.broadcast(cut))
        .select("term", (F.col("n") - F.col("cut")).alias("n"))
        .where(F.col("n") > 0)
    )


def maintain_frequent_terms_available_now(
    spark: SparkSession,
    sf_dir: str,
    state_dir: str,
    checkpoint_path: str,
    k: int,
    glob: str = "documents.parquet",
) -> None:
    """One AvailableNow pass: fold each micro-batch's exact term
    counts into the persisted MG summary (≤ k rows). Each pass
    processes exactly the files that arrived since the last one;
    the summary after any number of passes is a valid MG summary of
    everything ingested so far (merge associativity).

    A missing ``state_dir`` is seeded by the first non-empty batch; a
    directory without a store manifest (a seed that died before its
    commit) fails the micro-batch loud, uncommitted — the index
    loop's rule."""

    def _fold(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.take(1):
            return
        counts = (
            batch_df.select(
                F.explode(terms("text", keep_duplicates=True)).alias("term")
            )
            .groupBy("term")
            .agg(F.count("*").alias("n"))
        )

        def merged(prior: DataFrame) -> DataFrame:
            return mg_merge_summaries(prior, counts, k).withColumn(
                "part", F.lit(0)
            )

        # single-writer guard around the seed-or-merge decision: a
        # concurrent fold's entry recovery would roll back this fold's
        # in-flight swap; the store entry points re-enter the lease
        with store.mutation_lease(state_dir):
            if os.path.isdir(state_dir):
                store.rewrite_partitions(
                    batch_df.sparkSession,
                    state_dir,
                    "part",
                    lambda summary, _: ([0], merged(summary.drop("part"))),
                )
            else:
                store.seed_store(merged(counts.limit(0)), state_dir, "part")

    q = (
        docs_stream(spark, sf_dir, glob)
        .writeStream.foreachBatch(_fold)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def verified_heavy_terms(
    spark: SparkSession,
    sf_dir: str,
    state_dir: str,
    phi: float,
    glob: str = "documents.parquet",
) -> DataFrame:
    """Phase 2: exact recount of the streamed candidates against the
    canonical table, thresholded at ``ceil(φ·N)`` — equals batch
    ``GROUP BY HAVING`` exactly because the MG state is a guaranteed
    candidate superset. The only shuffle carries candidate keys
    (broadcast semi-join), mirroring ``sketches.frequent_items``."""
    import decimal

    docs = spark.read.option("pathGlobFilter", glob).parquet(sf_dir)
    toks = docs.select(
        F.explode(terms("text", keep_duplicates=True)).alias("term")
    )
    cand = (
        store.open_snapshot(spark, state_dir, "part")[0]
        .select("term")
        .distinct()
    )
    total = toks.agg(F.count("*").alias("_n"))
    phi_exact = F.lit(decimal.Decimal(str(phi)))
    return (
        toks.join(F.broadcast(cand), "term")
        .groupBy("term")
        .agg(F.count("*").alias("n_occ"))
        .crossJoin(F.broadcast(total))
        .where(F.col("n_occ") >= F.ceil(F.col("_n") * phi_exact))
        .select("term", "n_occ")
    )
