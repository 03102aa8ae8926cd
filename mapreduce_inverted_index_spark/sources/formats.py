"""Format readers/writers beyond the canonical Parquet: JSON and CSV
with explicit schemas, plus the reference-parity JSON index sink.

The reference materializes every stage as pretty-printed JSON files
(``mapper/src/processor.py:68``, ``reducer/src/processor.py:90-113``).
The engine's canonical storage is partitioned Parquet; JSON/CSV exist
as interchange formats with schema-enforced reads (PERMISSIVE mode:
corrupt rows become nulls in ``_corrupt_record`` instead of failing
the job — the schematized version of the reference's log-and-skip,
``reducer/src/reducer.py:97-120``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

__all__ = [
    "write_json",
    "read_json",
    "write_csv",
    "read_csv",
    "write_orc",
    "read_orc",
    "read_text_corpus",
    "read_evolved_parquet",
    "write_final_index_json",
]


def write_json(df: DataFrame, path: str) -> None:
    """JSON-lines sink, one part file per partition."""
    df.write.mode("overwrite").json(path)


def read_json(spark: SparkSession, path: str, schema: StructType) -> DataFrame:
    """Schema-enforced JSON scan; malformed rows null out instead of
    failing (PERMISSIVE, the default)."""
    return spark.read.schema(schema).json(path)


def write_final_index_json(
    docs: DataFrame,
    output_dir: str,
    *,
    creation_time: str | None = None,
    timestamp: int | None = None,
) -> str:
    """Reference-EXACT final artifact: one pretty-printed JSON file
    ``inverted_index_{timestamp}.json`` shaped
    ``{"metadata": {creation_time, num_terms, timestamp},
    "index": {term: [{"doc_id": d, "url": u}, ...]}}`` (``u`` is the
    document's ``source``) — the byte
    shape of ``reducer/src/processor.py:90-113`` (json.dump with
    indent=2), with the reducer's merge → sort-by-doc_id →
    dedup-first-wins per term (``reducer/src/processor.py:64-77``).

    The HEAVY work is distributed: tokenize/filter/distinct/explode
    and the per-term occurrence merge run as one shuffle
    (``groupBy(term).agg(sort_array(collect_set(struct(doc_id, ...))))``
    — map-side combined; first-wins == set semantics because doc_id →
    url is functional in the source table). Only the final
    serialization streams through the driver (``toLocalIterator`` —
    one partition in memory at a time), which is irreducible for a
    single-JSON-document artifact: the file itself is a driver-sized
    object by the reference's own design. The 100 TB index sink is
    ``operators.inverted_index.write_index_tables`` (term-bucketed
    parquet); this writer exists for artifact parity.

    ``creation_time``/``timestamp`` default to now (parity with the
    reducer); pass both for deterministic golden tests. Returns the
    written file's path, like ``save_final_index``.
    """
    import json
    import os
    import time as _time
    from datetime import datetime

    from pyspark.sql import functions as F

    from mapreduce_inverted_index_spark.operators.inverted_index import doc_terms

    urls = docs.select(
        F.col("doc_id").alias("doc_id"), F.col("source").alias("url")
    ).dropDuplicates(["doc_id"])
    pairs = doc_terms(docs).join(F.broadcast(urls), "doc_id", "left")
    occ = F.struct(F.col("doc_id"), F.col("url"))
    per_term = (
        pairs.groupBy("term")
        .agg(F.sort_array(F.collect_set(occ)).alias("occurrences"))
        .orderBy("term")
    )
    index: dict[str, list] = {}
    for row in per_term.toLocalIterator():
        index[row["term"]] = [o.asDict() for o in row["occurrences"]]

    ts = timestamp if timestamp is not None else int(_time.time())
    ct = creation_time if creation_time is not None else datetime.now().isoformat()
    os.makedirs(output_dir, exist_ok=True)
    output_file = os.path.join(output_dir, f"inverted_index_{ts}.json")
    with open(output_file, "w") as f:
        json.dump(
            {
                "metadata": {
                    "creation_time": ct,
                    "num_terms": len(index),
                    "timestamp": ts,
                },
                "index": index,
            },
            f,
            indent=2,
        )
    return output_file


def write_csv(df: DataFrame, path: str) -> None:
    df.write.mode("overwrite").option("header", True).csv(path)


def read_csv(spark: SparkSession, path: str, schema: StructType) -> DataFrame:
    return (
        spark.read.schema(schema)
        .option("header", True)
        .option("mode", "PERMISSIVE")
        .csv(path)
    )


def write_orc(df: DataFrame, path: str) -> None:
    """ORC sink — the second columnar interchange format (zlib by
    Spark default; columnar + predicate pushdown like Parquet)."""
    df.write.mode("overwrite").orc(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC scan; schema comes from the file footer (columnar formats
    are self-describing — no schema argument needed)."""
    return spark.read.orc(path)


def read_text_corpus(spark: SparkSession, path: str) -> DataFrame:
    """Raw-document ingestion: one row per text FILE (not per line),
    ``(doc_id BIGINT, source STRING, text STRING)``.

    The engine analog of the reference's fetch-per-URL source
    (``mapper/src/processor.py:135-161``): each file is one document,
    its path the provenance.

    doc_ids come from the SCALE-SAFE assignment
    (``operators.ids.assign_partition_ids``: per-partition offsets +
    local increment — the reference's actual ``doc_id_start``
    mechanism, ``master/src/coordinator.py:57``, with no
    single-partition stage anywhere in the plan). Ids are dense and
    unique; they follow Spark's file-split order.
    """
    from pyspark.sql import functions as F

    from mapreduce_inverted_index_spark.operators.ids import assign_partition_ids

    files = (
        spark.read.format("text")
        .option("wholetext", "true")
        .load(path)
        .select(
            F.input_file_name().alias("source"),
            F.col("value").alias("text"),
        )
    )
    tagged = assign_partition_ids(files, id_name="doc_id")
    return tagged.select("doc_id", "source", "text")


def read_evolved_parquet(spark: SparkSession, *paths: str) -> DataFrame:
    """Schema-evolution read over Parquet shards written at different
    times with different (compatible) schemas: the unified schema is
    the union of all shards' columns and rows missing a column read
    NULL — the lakehouse contract for tables that GAIN columns over
    their lifetime (a 100 TB corpus is never rewritten because one
    ingest added a `lang` tag).

    ``mergeSchema`` is off by default in Spark because footer-merging
    costs one footer read per file at planning time; turning it on
    per-read (here) rather than globally keeps that cost where it is
    paid for. Incompatible same-name types still fail loudly — this
    widens schemas, it does not cast them.
    """
    return spark.read.option("mergeSchema", "true").parquet(*paths)
