"""Tests: id assignment strategies and format sinks/readers."""

from __future__ import annotations

import os

from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from mapreduce_inverted_index_spark.operators.ids import (
    assign_dense_ids,
    assign_partition_ids,
)
from mapreduce_inverted_index_spark.sources.formats import (
    read_csv,
    read_json,
    write_csv,
    write_json,
)
from mapreduce_inverted_index_spark.sources.tables import load_table


def test_dense_ids_are_dense_and_ordered(spark, sf_smoke):
    docs = load_table(spark, sf_smoke, "documents")
    out = assign_dense_ids(docs, ["source", "doc_id"])
    ids = [r["assigned_id"] for r in out.select("assigned_id").collect()]
    assert sorted(ids) == list(range(docs.count()))
    # ordering parity: first id belongs to the tuple-min (source, doc_id)
    first = out.where(F.col("assigned_id") == 0).collect()[0]
    expected = docs.orderBy("source", "doc_id").limit(1).collect()[0]
    assert (first["source"], first["doc_id"]) == (expected["source"], expected["doc_id"])


def test_partition_ids_dense_unique_no_global_sort(spark, sf_smoke):
    docs = load_table(spark, sf_smoke, "documents").repartition(8)
    out = assign_partition_ids(docs)
    ids = [r["assigned_id"] for r in out.select("assigned_id").collect()]
    assert sorted(ids) == list(range(docs.count()))


def test_json_roundtrip_and_permissive_corruption(spark, tmp_path):
    schema = StructType(
        [StructField("a", LongType()), StructField("b", StringType())]
    )
    df = spark.createDataFrame([Row(a=1, b="x"), Row(a=2, b="y")], schema)
    path = str(tmp_path / "j")
    write_json(df, path)
    # add a corrupt record as an extra part file (appending in place
    # would break the hadoop .crc checksum)
    with open(os.path.join(path, "part-extra.json"), "w") as f:
        f.write('{"a": "not-a-number", "b": 3}\n')
    back = read_json(spark, path, schema)
    rows = back.collect()
    assert len(rows) == 3  # corrupt row kept as nulls, not failed
    assert sorted(r["a"] for r in rows if r["a"] is not None) == [1, 2]


def test_csv_roundtrip(spark, tmp_path):
    schema = StructType(
        [StructField("k", LongType()), StructField("v", StringType())]
    )
    df = spark.createDataFrame([Row(k=1, v="a"), Row(k=2, v="b")], schema)
    path = str(tmp_path / "c")
    write_csv(df, path)
    back = read_csv(spark, path, schema)
    assert sorted((r["k"], r["v"]) for r in back.collect()) == [(1, "a"), (2, "b")]


def test_orc_roundtrip(spark, sf_smoke, tmp_path):
    from mapreduce_inverted_index_spark.sources.formats import read_orc, write_orc

    docs = load_table(spark, sf_smoke, "documents")
    path = str(tmp_path / "docs_orc")
    write_orc(docs, path)
    back = read_orc(spark, path)
    assert back.schema == docs.schema
    assert back.count() == docs.count()
    # columnar pushdown works on ORC too
    assert back.where(F.col("doc_id") == 1).count() == 1


def test_read_text_corpus_one_row_per_file(spark, tmp_path):
    from mapreduce_inverted_index_spark.sources.formats import read_text_corpus

    d = tmp_path / "corpus"
    d.mkdir()
    (d / "a.txt").write_text("first doc\nwith two lines")
    (d / "b.txt").write_text("second doc")
    df = read_text_corpus(spark, str(d))
    out = df.collect()
    # default (scale-safe) ids: dense and unique, split-ordered
    assert sorted(r["doc_id"] for r in out) == [0, 1]
    by_name = {r["source"].rsplit("/", 1)[-1]: r["text"] for r in out}
    assert by_name["a.txt"] == "first doc\nwith two lines"  # whole file, not lines
    assert by_name["b.txt"] == "second doc"
    # scale-safe ids: NO global window stage (no single-partition
    # row_number funnel)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan


def test_bucketed_index_tier_shuffle_free(spark, tmp_path):
    from pyspark.sql import Row

    from mapreduce_inverted_index_spark.operators.inverted_index import (
        write_index_tables,
    )
    from mapreduce_inverted_index_spark.operators.term_queries import (
        bm25_rank,
        term_lookup_bucketed,
    )

    docs = spark.createDataFrame(
        [Row(doc_id=i, text=f"cat dog bird t{i} cat") for i in range(30)]
    )
    idx_t, tf_t = write_index_tables(
        docs, str(tmp_path / "tier"), buckets=4, prefix="t_tier"
    )
    out = term_lookup_bucketed(spark, idx_t, tf_t, ["cat", "bird"])
    rows = {r["term"]: r for r in out.collect()}
    assert rows["cat"]["df"] == 30 and rows["cat"]["total_tf"] == 60
    assert rows["bird"]["df"] == 30 and rows["bird"]["total_tf"] == 30
    assert list(rows["cat"]["postings"]) == sorted(rows["cat"]["postings"])
    # zero shuffle: no Exchange hashpartitioning in the whole plan
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning" not in plan
    # bm25 reuse: injected bucketed tf table == recomputed-from-docs
    from_tables = sorted(
        (r["doc_id"], r["bm25"])
        for r in bm25_rank(
            docs, ["cat", "bird"], k=5, tf=spark.table(tf_t)
        ).collect()
    )
    from_docs = sorted(
        (r["doc_id"], r["bm25"])
        for r in bm25_rank(docs, ["cat", "bird"], k=5).collect()
    )
    assert from_tables == from_docs
    spark.sql(f"DROP TABLE {idx_t}")
    spark.sql(f"DROP TABLE {tf_t}")


def test_read_evolved_parquet_unions_schemas(spark, tmp_path):
    """Shards written before/after a column addition read back under
    the union schema with NULLs for the missing column — and the new
    column is still filter-pushable."""
    from mapreduce_inverted_index_spark.sources.formats import (
        read_evolved_parquet,
    )

    old = str(tmp_path / "old")
    new = str(tmp_path / "new")
    spark.createDataFrame(
        [(1, "alpha")], "doc_id bigint, text string"
    ).write.parquet(old)
    spark.createDataFrame(
        [(2, "beta", "en")], "doc_id bigint, text string, lang string"
    ).write.parquet(new)
    df = read_evolved_parquet(spark, old, new)
    assert set(df.columns) == {"doc_id", "text", "lang"}
    rows = {r["doc_id"]: r for r in df.collect()}
    assert rows[1]["lang"] is None and rows[2]["lang"] == "en"
    assert df.where("lang = 'en'").count() == 1


def test_final_index_json_reference_byte_shape(spark, tmp_path):
    """Golden byte-shape parity with the reference's final artifact
    (reducer/src/processor.py:90-113, Readme.md worked example): one
    pretty-printed JSON document {"metadata": {...}, "index": {term:
    [{"doc_id", "url"}, ...]}} — occurrences sorted by doc_id,
    deduped first-wins, stopwords ('the', 'and') filtered as the
    reference's preprocess_text does."""
    import json

    from mapreduce_inverted_index_spark.sources.formats import (
        write_final_index_json,
    )

    docs = spark.createDataFrame(
        [
            # 'cat cat' exercises the per-doc dedup; doc order is
            # scrambled to prove sort-by-doc_id in each posting list
            (2, "http://site/doc3", "cat and dog played"),
            (0, "http://site/doc1", "the cat cat sat"),
            (1, "http://site/doc2", "the dog ran"),
        ],
        "doc_id long, source string, text string",
    )
    out = write_final_index_json(
        docs,
        str(tmp_path),
        creation_time="2026-01-01T00:00:00",
        timestamp=1767225600,
    )
    assert out.endswith("inverted_index_1767225600.json")

    def occ(d):
        return {"doc_id": d, "url": f"http://site/doc{d + 1}"}

    expected = {
        "metadata": {
            "creation_time": "2026-01-01T00:00:00",
            "num_terms": 5,
            "timestamp": 1767225600,
        },
        "index": {
            "cat": [occ(0), occ(2)],
            "dog": [occ(1), occ(2)],
            "played": [occ(2)],
            "ran": [occ(1)],
            "sat": [occ(0)],
        },
    }
    with open(out, "rb") as f:
        got_bytes = f.read()
    assert got_bytes == json.dumps(expected, indent=2).encode()


def test_delete_from_index_equals_rebuild(spark, sf_smoke):
    """delete(build(all), dead) must equal build(all - dead), with
    terms losing their last posting dropping out entirely."""
    from pyspark.sql import functions as F

    from mapreduce_inverted_index_spark.operators.inverted_index import (
        build_index,
        delete_from_index,
    )
    from mapreduce_inverted_index_spark.sources.tables import load_table

    docs = load_table(spark, sf_smoke, "documents").select("doc_id", "text")
    dead = [r["doc_id"] for r in docs.limit(40).collect()]
    got = sorted(
        (r["term"], list(r["postings"]), r["df"])
        for r in delete_from_index(build_index(docs), dead).collect()
    )
    want = sorted(
        (r["term"], list(r["postings"]), r["df"])
        for r in build_index(
            docs.where(~F.col("doc_id").isin(dead))
        ).collect()
    )
    assert got == want and len(got) > 0
    # a term owned solely by deleted docs must vanish
    single = spark.createDataFrame(
        [(1, "unique zebra"), (2, "other words")], "doc_id long, text string"
    )
    left = delete_from_index(build_index(single), [1]).collect()
    assert all("zebra" not in r["term"] for r in left)
