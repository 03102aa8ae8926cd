"""Snapshot open, term lookup and delete cost: ``store.open_snapshot``
reads the files with the manifest's recorded schema, so an open runs
no Spark job; ``term_lookup_store`` reads its buckets on the driver,
so a lookup runs no job at all; ``delete_from_index_store`` is a
locate scan and a row-local rewrite, 2 jobs and no shuffle."""

from __future__ import annotations

import pytest


def _jobs(spark, group: str, fn):
    """``(fn(), number of Spark jobs fn launched)``, counted under a
    job group once the listener bus has delivered every job start."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _sql_plans(spark, fn):
    """``(fn(), physical plans of the SQL executions fn ran)``, read from
    the SQL status store once the listener bus is drained."""
    store = spark._jsparkSession.sharedState().statusStore()
    listener_bus = spark.sparkContext._jsc.sc().listenerBus()

    def executions():
        listener_bus.waitUntilEmpty()
        el = store.executionsList()
        return [el.apply(i) for i in range(el.size())]

    seen = max((e.executionId() for e in executions()), default=-1)
    out = fn()
    return out, [
        e.physicalPlanDescription()
        for e in executions()
        if e.executionId() > seen
    ]


@pytest.fixture(scope="module")
def stores(spark, tmp_path_factory):
    """One tiny store of each kind, built by its own writer:
    ``{name: (path, part_col)}``."""
    from mapreduce_inverted_index_spark.operators.inverted_index import (
        build_index,
        write_index_store,
    )
    from mapreduce_inverted_index_spark.operators.similarity import (
        write_ivf_cells,
    )
    from mapreduce_inverted_index_spark.streaming.ingest import (
        maintain_semantic_cells_available_now,
    )
    from mapreduce_inverted_index_spark.streaming.sketches import (
        maintain_frequent_terms_available_now,
    )

    base = tmp_path_factory.mktemp("stores")
    write_index_store(
        build_index(
            spark.createDataFrame(
                [(1, "alpha beta"), (2, "beta gamma")],
                "doc_id bigint, text string",
            )
        ),
        f"{base}/index",
        n_buckets=4,
    )
    write_ivf_cells(
        spark.createDataFrame(
            [(i, i % 2, [float(i), 1.0]) for i in range(6)],
            "vec_id bigint, cell int, vec array<double>",
        ),
        f"{base}/cells",
    )
    # two passes, the second repeating the first's vectors, so the dup
    # log holds rows
    emb = spark.createDataFrame(
        [(i, [float(i % 3), 1.0, 0.5]) for i in range(6)],
        "vec_id bigint, embedding array<double>",
    )
    for half in ("vec_id < 3", "vec_id >= 3"):
        emb.where(half).coalesce(1).write.mode("append").parquet(f"{base}/emb")
        maintain_semantic_cells_available_now(
            spark,
            f"{base}/emb",
            f"{base}/sem",
            f"{base}/sem_ckpt",
            n_cells=2,
            tau=0.2,
            max_files_per_cell=None,
        )
    spark.createDataFrame(
        [(1, "a b a"), (2, "b c")], "doc_id bigint, text string"
    ).coalesce(1).write.parquet(f"{base}/docs")
    maintain_frequent_terms_available_now(
        spark, f"{base}/docs", f"{base}/mg", f"{base}/mg_ckpt", k=4, glob="*.parquet"
    )
    return {
        "index": (f"{base}/index", "bucket"),
        "ivf_cells": (f"{base}/cells", "cell"),
        "dup_log": (f"{base}/sem/dups", "batch"),
        "codebook": (f"{base}/sem/cents", "part"),
        "misra_gries": (f"{base}/mg", "part"),
    }


def test_term_lookup_runs_no_job(spark, stores, tmp_path):
    """The open runs no job; the lookup call and its ``collect`` run
    none either, on a store holding rows and on a committed-empty
    store (every doc taken down)."""
    from mapreduce_inverted_index_spark.operators.inverted_index import (
        build_index,
        delete_from_index_store,
        term_lookup_store,
        write_index_store,
    )
    from mapreduce_inverted_index_spark.operators.store import (
        open_snapshot,
        read_manifest,
    )

    path, part_col = stores["index"]
    _, n_open = _jobs(
        spark, "store-open", lambda: open_snapshot(spark, path, part_col)
    )
    assert n_open == 0
    df, n_plan = _jobs(
        spark, "lookup-plan", lambda: term_lookup_store(spark, path, ["alpha", "gamma"])
    )
    assert n_plan == 0
    rows, n_scan = _jobs(spark, "lookup-collect", df.collect)
    assert n_scan == 0
    assert sorted((r["term"], list(r["postings"]), r["df"]) for r in rows) == [
        ("alpha", [1], 1),
        ("gamma", [2], 1),
    ]

    empty = str(tmp_path / "emptied")
    write_index_store(
        build_index(
            spark.createDataFrame([(1, "alpha beta")], "doc_id bigint, text string")
        ),
        empty,
        n_buckets=4,
    )
    delete_from_index_store(spark, empty, [1])
    assert not read_manifest(empty, "bucket")["parts"]
    df, n_plan = _jobs(
        spark, "empty-lookup-plan", lambda: term_lookup_store(spark, empty, ["alpha"])
    )
    rows, n_scan = _jobs(spark, "empty-lookup-collect", df.collect)
    assert (n_plan, n_scan, rows) == (0, 0, [])
    assert df.dtypes == [
        ("term", "string"),
        ("postings", "array<bigint>"),
        ("df", "bigint"),
    ]


def test_term_lookup_keeps_rows_read_after_a_bucket_without_hits(
    spark, tmp_path
):
    """A probed bucket whose file holds none of the probe terms reads
    as an empty batch; the rows of the buckets read after it must
    still come back. Each case probes a present term in every bucket
    but one and an absent term in that one, so some case puts the
    empty bucket between two with hits."""
    from mapreduce_inverted_index_spark.operators.inverted_index import (
        build_index,
        term_bucket,
        term_lookup_store,
        write_index_store,
    )

    n = 4
    words = [f"term{chr(97 + i // 26)}{chr(97 + i % 26)}" for i in range(40)]
    path = str(tmp_path / "index")
    write_index_store(
        build_index(
            spark.createDataFrame(
                list(enumerate(words)), "doc_id bigint, text string"
            )
        ),
        path,
        n_buckets=n,
    )
    present = {b: next(w for w in words if term_bucket(w, n) == b) for b in range(n)}
    absent = {
        b: next(
            t
            for t in (f"absent{chr(97 + i)}{chr(97 + j)}" for i in range(26) for j in range(26))
            if term_bucket(t, n) == b
        )
        for b in range(n)
    }
    assert len(set(present.values())) == n
    for empty in range(n):
        want = sorted(present[b] for b in range(n) if b != empty)
        rows = term_lookup_store(spark, path, want + [absent[empty]]).collect()
        assert sorted(r["term"] for r in rows) == want, empty


@pytest.mark.parametrize(
    "kind, schema",
    [
        ("index", "struct<term:string,postings:array<bigint>,df:bigint,bucket:int>"),
        ("ivf_cells", "struct<vec_id:bigint,vec:array<double>,cell:int>"),
        ("dup_log", "struct<new_id:bigint,dup_of:bigint,cos_sim:double,batch:int>"),
        ("codebook", "struct<cell:int,centroid:array<double>,part:int>"),
        ("misra_gries", "struct<term:string,n:bigint,part:int>"),
    ],
)
def test_open_snapshot_reads_recorded_schema(spark, stores, kind, schema):
    """Every store kind opens with its recorded column types: data
    columns in written order, the partition column last, and no job
    at open."""
    from mapreduce_inverted_index_spark.operators.store import (
        open_snapshot,
        read_manifest,
    )

    path, part_col = stores[kind]
    assert read_manifest(path, part_col)["parts"], "store holds no files"
    (df, _), n_open = _jobs(
        spark, f"open-{kind}", lambda: open_snapshot(spark, path, part_col)
    )
    assert df.schema.simpleString() == schema
    assert n_open == 0
    assert df.count() > 0


def test_emptied_store_keeps_its_column_order(spark, tmp_path):
    """A store seeded with its partition column first opens with the
    same columns and types once every partition is taken down as it
    did while holding files: the partition column last."""
    from mapreduce_inverted_index_spark.operators.similarity import (
        delete_from_ivf_cells,
        write_ivf_cells,
    )
    from mapreduce_inverted_index_spark.operators.store import open_snapshot

    path = str(tmp_path / "cells")
    write_ivf_cells(
        spark.createDataFrame(
            [(i, i % 2, [float(i), 1.0]) for i in range(4)],
            "vec_id bigint, cell int, vec array<double>",
        ),
        path,
    )
    before, _ = open_snapshot(spark, path, "cell")
    delete_from_ivf_cells(spark, path, list(range(4)))
    after, manifest = open_snapshot(spark, path, "cell")
    assert not manifest["parts"] and after.count() == 0
    assert after.columns == before.columns == ["vec_id", "vec", "cell"]
    assert after.dtypes == before.dtypes


def test_store_delete_is_two_jobs_without_a_shuffle(spark, tmp_path):
    """A batch that touches buckets runs the locate scan and the
    rewrite: 2 jobs, neither with an Exchange. A ghost batch (ids in no
    posting) runs the locate scan only; a DataFrame batch adds the
    collect of its ids, after which an empty one runs nothing. The
    store then equals ``build_index`` of the survivors."""
    from pyspark.sql import functions as F

    from mapreduce_inverted_index_spark.operators.inverted_index import (
        build_index,
        delete_from_index_store,
        read_index_store,
        write_index_store,
    )

    docs = spark.createDataFrame(
        [(i, f"w{chr(97 + i % 7)} x{chr(97 + i % 5)} common") for i in range(24)],
        "doc_id bigint, text string",
    )
    path = str(tmp_path / "index")
    write_index_store(build_index(docs), path, n_buckets=4)

    def run(group, batch):
        (out, n), plans = _sql_plans(
            spark,
            lambda: _jobs(
                spark, group, lambda: delete_from_index_store(spark, path, batch)
            ),
        )
        assert not any("Exchange" in p for p in plans), plans
        return out, n

    affected, n = run("delete", [1, 2])
    assert affected and n == 2
    assert run("delete-ghost", [10**9]) == ([], 1)
    assert run("delete-empty", []) == ([], 0)
    batch = spark.createDataFrame([(3,)], "doc_id bigint")
    affected, n = run("delete-frame", batch)
    assert affected and n == 3
    assert run("delete-empty-frame", batch.where("doc_id < 0")) == ([], 1)

    def rows(df):
        return sorted((r["term"], list(r["postings"]), r["df"]) for r in df.collect())

    assert rows(read_index_store(spark, path)) == rows(
        build_index(docs.where(~F.col("doc_id").isin(1, 2, 3)))
    )
