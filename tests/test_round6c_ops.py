"""Final-round-6 operator semantics beyond the registry differential:

* gap_fill_daily: spine completeness (every day between a key's first
  and last active day, nothing outside), forward-fill carries the
  most recent observed value across arbitrary-width gaps, is_gap
  marks exactly the synthesized rows, no cross-key leakage.
* train_val_test_split: partition property (every row exactly one
  split), requested proportions within hash tolerance, and the
  growth-stability property — adding new docs never changes an
  existing doc's split.
* dedup_keep_best (via the window composition): keeper is the
  longest member with min-id tiebreak, n_members matches the
  component size.
* correlated-subquery family: the decorrelated plans equal a
  hand-computed fixture answer (Q21 shape's sole-late-supplier
  logic is easy to get subtly wrong).
"""

from __future__ import annotations

import datetime

from pyspark.sql import Window
from pyspark.sql import functions as F

from mapreduce_inverted_index_spark.operators.curation import train_val_test_split
from mapreduce_inverted_index_spark.operators.relational import gap_fill_daily


# ------------------------------------------------------------- gap fill

def _events(spark):
    rows = [
        # user 1: days 1, 4 (two events), 6 -> spine 1..6, gaps 2,3,5
        (1, "2024-03-01 10:00:00", 10.0),
        (1, "2024-03-04 09:00:00", 2.0),
        (1, "2024-03-04 15:00:00", 3.0),
        (1, "2024-03-06 01:00:00", 7.0),
        # user 2: single day -> spine of one row, no gaps
        (2, "2024-03-10 12:00:00", 99.0),
    ]
    return spark.createDataFrame(rows, "user_id int, ts string, value double") \
        .withColumn("ts", F.col("ts").cast("timestamp"))


def test_gap_fill_spine_and_fill(spark):
    out = gap_fill_daily(
        _events(spark), "user_id", "ts", F.sum("value")
    ).orderBy("user_id", "day").collect()

    u1 = [r for r in out if r.user_id == 1]
    assert [str(r.day) for r in u1] == [
        f"2024-03-0{d}" for d in range(1, 7)
    ], "spine must cover exactly the user's own active range"
    assert [r.day_value for r in u1] == [10.0, None, None, 5.0, None, 7.0]
    assert [r.filled_value for r in u1] == [10.0, 10.0, 10.0, 5.0, 5.0, 7.0]
    assert [r.is_gap for r in u1] == [False, True, True, False, True, False]

    u2 = [r for r in out if r.user_id == 2]
    assert len(u2) == 1 and u2[0].filled_value == 99.0 and not u2[0].is_gap
    # no global spine: user 2 must NOT get rows for user 1's range
    assert u2[0].day == datetime.date(2024, 3, 10)


# ------------------------------------------------------ train/val/test

def test_split_partition_and_proportions(spark):
    docs = spark.range(0, 2000).withColumnRenamed("id", "doc_id")
    out = train_val_test_split(docs)
    counts = {r["split"]: r["n"] for r in
              out.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert sum(counts.values()) == 2000, "every row exactly one split"
    assert set(counts) == {"train", "val", "test"}
    # md5 buckets are near-uniform; 2000 ids keep each within ~3 pp
    assert abs(counts["train"] / 2000 - 0.90) < 0.03
    assert abs(counts["val"] / 2000 - 0.05) < 0.03
    assert abs(counts["test"] / 2000 - 0.05) < 0.03


def test_split_stable_under_corpus_growth(spark):
    small = spark.range(0, 500).withColumnRenamed("id", "doc_id")
    grown = spark.range(0, 1500).withColumnRenamed("id", "doc_id")
    s1 = {r.doc_id: r.split for r in train_val_test_split(small).collect()}
    s2 = {r.doc_id: r.split for r in train_val_test_split(grown).collect()}
    assert all(s2[k] == v for k, v in s1.items()), \
        "existing docs must never migrate between splits as data grows"


# ------------------------------------------------------- keep-best window

def test_keep_best_window_semantics(spark):
    comp = spark.createDataFrame(
        [(10, 1), (11, 1), (12, 1), (20, 2), (21, 2)],
        "doc_id long, component long",
    )
    docs = spark.createDataFrame(
        # component 1: 11 and 12 tie on n_chars -> min doc_id (11) wins
        [(10, 100), (11, 300), (12, 300), (20, 50), (21, 40)],
        "doc_id long, n_chars long",
    )
    wp = Window.partitionBy("component")
    wr = wp.orderBy(F.col("n_chars").desc(), "doc_id")
    kept = (
        comp.join(docs, "doc_id")
        .withColumn("n_members", F.count("*").over(wp))
        .withColumn("_rn", F.row_number().over(wr))
        .where(F.col("_rn") == 1)
        .select("component", "doc_id", "n_members")
        .orderBy("component")
        .collect()
    )
    assert [(r.component, r.doc_id, r.n_members) for r in kept] == [
        (1, 11, 3),
        (2, 20, 2),
    ]


# --------------------------------------- correlated-subquery semantics

def test_waiting_orders_sole_late_supplier(spark, tmp_path):
    """Q21 shape on a 4-order fixture covering every branch."""
    import pandas as pd

    d0 = datetime.datetime(2020, 1, 1)
    late = d0 + datetime.timedelta(days=120)
    ontime = d0 + datetime.timedelta(days=10)
    orders = pd.DataFrame({
        "o_orderkey": [1, 2, 3, 4],
        "o_orderdate": [d0] * 4,
        "o_orderstatus": ["F", "F", "F", "O"],
    })
    lineitem = pd.DataFrame({
        # order 1: suppliers 7 (late) + 8 (on time)  -> 7 counted
        # order 2: suppliers 7 (late) + 8 (late)     -> nobody (two late)
        # order 3: supplier 7 late, sole supplier    -> nobody (no other)
        # order 4: status O                          -> excluded
        "l_orderkey": [1, 1, 2, 2, 3, 4],
        "l_suppkey": [7, 8, 7, 8, 7, 7],
        "l_shipdate": [late, ontime, late, late, late, late],
    })
    supplier = pd.DataFrame({"s_suppkey": [7, 8],
                             "s_name": ["Supp#7", "Supp#8"]})
    sf = str(tmp_path / "q21sf")
    import os
    os.makedirs(sf, exist_ok=True)
    # micro-precision timestamps: Spark's parquet reader rejects the
    # nanosecond default pandas writes
    orders.astype({"o_orderdate": "datetime64[us]"}).to_parquet(
        f"{sf}/orders.parquet"
    )
    lineitem.astype({"l_shipdate": "datetime64[us]"}).to_parquet(
        f"{sf}/lineitem.parquet"
    )
    supplier.to_parquet(f"{sf}/supplier.parquet")

    from mapreduce_inverted_index_spark.plans.queries_relational import (
        q_waiting_orders_suppliers,
    )

    rows = q_waiting_orders_suppliers(spark, sf).collect()
    assert [(r.s_name, r.numwait) for r in rows] == [("Supp#7", 1)]
