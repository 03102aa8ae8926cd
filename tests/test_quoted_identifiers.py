"""SQL-string operators quote the column names they interpolate.

``bucketed_prefix_sum`` and ``lsh_signature`` build one JVM-parsed
SQL string instead of a long Column chain; a column name is embedded
between backticks with any backtick inside it doubled, so a name
that contains a backtick still parses as that one column.
"""

from __future__ import annotations

from pyspark.sql import functions as F


def test_bucketed_prefix_sum_cut_col_with_backtick(spark):
    from mapreduce_inverted_index_spark.operators.prefix import (
        bucketed_prefix_sum,
    )

    name = "t`s"
    df = spark.createDataFrame(
        [(i, float(i % 3)) for i in range(1, 21)], "k int, v double"
    ).withColumnRenamed("k", name)
    out = bucketed_prefix_sum(
        df, name, [F.col("`t``s`")], "v", "cum", buckets=4
    )
    assert out.columns == [name, "v", "cum"]
    got = sorted((r[name], r["cum"]) for r in out.collect())
    running, want = 0.0, []
    for i in range(1, 21):
        running += float(i % 3)
        want.append((i, running))
    assert got == want


def test_lsh_signature_vec_col_with_backtick(spark, sf_smoke):
    from mapreduce_inverted_index_spark.operators import similarity as S
    from mapreduce_inverted_index_spark.sources.tables import load_table

    emb = load_table(spark, sf_smoke, "embeddings").withColumn(
        "e`mb", F.col("embedding")
    )
    n_diff = (
        emb.select(
            S.lsh_signature("e`mb").alias("a"),
            S.lsh_signature("embedding").alias("b"),
        )
        .where("a <> b")
        .count()
    )
    assert n_diff == 0
