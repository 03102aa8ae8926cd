"""Snapshot open and term lookup cost: ``store.open_snapshot`` reads
the files with the manifest's recorded schema, so an open runs no
Spark job, and ``term_lookup_store`` folds its bucket predicate into
literals, so a lookup is one job, its scan."""

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


def test_term_lookup_is_one_job(spark, stores):
    """The open and the bucket predicate launch no job; the lookup's
    ``collect`` launches exactly one, the scan."""
    from mapreduce_inverted_index_spark.operators.inverted_index import (
        term_lookup_store,
    )
    from mapreduce_inverted_index_spark.operators.store import open_snapshot

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
    assert n_scan == 1
    assert sorted((r["term"], list(r["postings"]), r["df"]) for r in rows) == [
        ("alpha", [1], 1),
        ("gamma", [2], 1),
    ]


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
