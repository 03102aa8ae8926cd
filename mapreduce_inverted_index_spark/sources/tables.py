"""Table loaders over the engine's canonical Parquet layout.

The reference's sources are a live category crawl + per-URL HTML fetch
(S1/S2, ``master/src/master.py:48-86``, ``mapper/src/processor.py:135-161``);
the engine's source is a columnar ``documents`` table scan — Parquet
gives us predicate pushdown, column pruning, and split-based
parallelism for free, which is the whole point at 100 TB.

``load_table(spark, sf_dir, name)`` reads ``{sf_dir}/{name}.parquet``.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

# The star schema + text/vector/event tables the driver materializes
# (TESTDATA.md). At production scale each would be a partitioned
# Parquet dataset or an external catalog table; the loader only
# assumes "directory of parquet per table".
TABLES: tuple[str, ...] = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


# Scans whose parquet footer exposes fewer row groups than this can't
# be split by the reader (splits are row-group-granular), so a narrow
# fixture file serializes every downstream map stage on one core.
# Files below the byte floor aren't worth a shuffle to widen (dims).
_WIDEN_MIN_BYTES = 256 << 10

# Only the compute-dense tables are worth widening: tokenize / hash /
# shingle / vector math amplifies work per input byte by orders of
# magnitude, so a one-time shuffle of a narrow scan buys 32× on every
# downstream map stage. Relational tables get no such amplification —
# their first groupBy/join shuffles anyway, and paying a full-row
# shuffle before an already-cheap columnar partial-agg is a net loss
# (measured on the TPC-H-style headline set).
_WIDEN_TABLES = frozenset({"documents", "embeddings"})


def _widen_narrow_scan(spark: SparkSession, df: DataFrame, path: str) -> DataFrame:
    """Round-robin-repartition a scan that parquet row-group layout
    makes unsplittable (single-row-group fixture files → 1-task scans
    on a 32-thread session, serializing tokenize/hash/explode work).

    Scale posture: this is a FIXTURE-shape mitigation with a gate that
    a production lake never trips — real datasets ship many files and
    ~128 MB row groups, so ``row_groups >= cores`` holds and the scan
    is already wide; the repartition then never fires and plans are
    untouched. When it does fire, the cost is one shuffle of a small
    file's rows — strictly cheaper than leaving 31/32 cores idle for
    every downstream map stage. Filters/pruning still reach the scan
    (Catalyst pushes predicates and column pruning through
    Repartition).
    """
    target = spark.sparkContext.defaultParallelism
    if target <= 2:
        return df
    try:
        import pyarrow.parquet as pq

        n_groups = pq.ParquetFile(path).metadata.num_row_groups
        n_bytes = os.path.getsize(path)
    except Exception:
        return df
    if n_groups >= max(2, target // 2) or n_bytes < _WIDEN_MIN_BYTES:
        return df
    return df.repartition(target)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one table. Lazy; Catalyst prunes columns/pushes filters."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    # The fixtures store wall-time (non-UTC-adjusted) timestamps; pin
    # the session timezone so collected values render identically in
    # any host session (differential oracles compare wall times).
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    path = f"{sf_dir}/{name}.parquet"
    if name == "events":
        return _load_events(spark, sf_dir)
    df = spark.read.parquet(path)
    if name in _WIDEN_TABLES:
        df = _widen_narrow_scan(spark, df, path)
    return df


def _load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``events.ts`` is a nanosecond parquet timestamp, which Spark's
    vectorized reader rejects (PARQUET_TYPE_ILLEGAL). Read nanos as
    INT64 and convert to a microsecond TIMESTAMP with *integer*
    division — a double division of epoch-nanos (~1.7e18) would lose
    ~256 ns to the 53-bit mantissa. The fixture's values are exact
    microseconds, so the conversion is lossless.
    """
    from pyspark.sql import functions as F

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(f"{sf_dir}/events.parquet")
    if dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataFrame]:
    """Scan several tables at once → dict of lazy DataFrames."""
    wanted = names or TABLES
    return {n: load_table(spark, sf_dir, n) for n in wanted}

