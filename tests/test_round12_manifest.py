"""Round-12 manifest fixes (ADVICE r11 #1/#2).

#1 (HIGH): the streaming semantic-cells fold APPENDS batch files
(now via ``store.append_partitions``) — but once a delete/compact
had written a reader manifest, those appended files were never
named in it, so manifest-resolved probes (``store.open_snapshot``
behind ``ivf_pruned_scan_topk`` / ``hard_negatives_ivf``) silently
returned a stale subset missing every vector appended since the
last refresh. The append now refreshes the manifest (inside the
fold's lease) whenever one exists.

#2 (MEDIUM): a COMMITTED-EMPTY cell store (every cell taken down;
manifest names zero files) fell through ``if files:`` to a directory
read, which crashes on schema inference and reopens the listing race.
The manifest now carries the store schema (seeded by
``write_ivf_cells``, carried forward across swaps), and
``store.open_snapshot`` returns an empty DataFrame of that shape.
"""

from __future__ import annotations

import functools
import json
import os

import pytest
from pyspark.sql import functions as F


def _seed_cells(spark, path, n_cells=4):
    from mapreduce_inverted_index_spark.operators.similarity import (
        ivf_assign,
        ivf_centroids,
        write_ivf_cells,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cents = ivf_centroids(emb, n_cells, 2)
    assigned = ivf_assign(emb, cents)
    write_ivf_cells(assigned, path)
    return emb, cents


def test_streaming_append_refreshes_existing_manifest(spark, tmp_path):
    """ADVICE r11 #1 regression: manifest-resolved probes must see
    vectors APPENDED by the streaming fold after a delete/compact
    created the manifest — stale-subset reads were silent."""
    from mapreduce_inverted_index_spark.operators.similarity import (
        delete_from_ivf_cells,
    )
    from mapreduce_inverted_index_spark.operators.store import (
        MANIFEST_NAME,
        open_snapshot,
        read_manifest,
    )
    from mapreduce_inverted_index_spark.streaming.ingest import (
        maintain_semantic_cells_available_now,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    land = str(tmp_path / "landing")
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    cells = f"{state}/cells"

    # pass 1 seeds the codebook + cells from half the corpus
    emb.where(F.col("vec_id") % 2 == 0).coalesce(1).write.mode(
        "append"
    ).parquet(land)
    maintain_semantic_cells_available_now(
        spark, land, state, ckpt, n_cells=4, tau=0.2, max_files_per_cell=None
    )
    n_seeded = spark.read.parquet(cells).count()

    # a takedown writes the reader manifest
    victims = [r["vec_id"] for r in emb.limit(2).collect() if r["vec_id"] % 2 == 0]
    delete_from_ivf_cells(spark, cells, victims or [0])
    assert os.path.isfile(f"{cells}/{MANIFEST_NAME}")
    n_after_delete = spark.read.parquet(cells).count()
    assert n_after_delete < n_seeded

    # pass 2 APPENDS the other half via the streaming fold
    emb.where(F.col("vec_id") % 2 == 1).coalesce(1).write.mode(
        "append"
    ).parquet(land)
    maintain_semantic_cells_available_now(
        spark, land, state, ckpt, n_cells=4, tau=0.2, max_files_per_cell=None
    )

    n_direct = spark.read.parquet(cells).count()
    assert n_direct > n_after_delete  # the append landed on disk

    # the manifest names the appended batch files ...
    parts = read_manifest(cells, "cell")["parts"]
    assert any("batch-" in f for fns in parts.values() for f in fns)
    # ... and the manifest-resolved probe read sees EVERY live vector,
    # not the pre-append subset
    assert open_snapshot(spark, cells, "cell")[0].count() == n_direct


def test_committed_empty_cell_store_reads_as_empty(spark, tmp_path):
    """ADVICE r11 #2 regression: a store whose every cell was taken
    down is an EMPTY store, not an 'Unable to infer schema' crash —
    and the empty DataFrame carries the committed schema."""
    from mapreduce_inverted_index_spark.operators.similarity import (
        delete_from_ivf_cells,
        ivf_pruned_scan_topk,
    )
    from mapreduce_inverted_index_spark.operators.store import (
        open_snapshot,
        read_manifest,
    )

    path = str(tmp_path / "cells")
    emb, cents = _seed_cells(spark, path)
    seeded_cols = set(spark.read.parquet(path).columns)

    all_ids = [r["vec_id"] for r in emb.select("vec_id").collect()]
    delete_from_ivf_cells(spark, path, all_ids)

    assert read_manifest(path, "cell")["parts"] == {}  # committed-empty
    out, _ = open_snapshot(spark, path, "cell")
    assert out.count() == 0
    assert set(out.columns) == seeded_cols

    # end-to-end: a pruned probe over the empty store returns 0 rows
    queries = emb.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    ).limit(2)
    assert ivf_pruned_scan_topk(spark, path, cents, queries, k=3).count() == 0


def test_open_snapshot_verifies_the_materialized_file_index(
    spark, tmp_path, monkeypatch
):
    """The silent-partial window the r12 decade race probe caught:
    Spark's PARALLEL leaf-file listing silently drops paths deleted
    between the driver existence check and the executor stat, so a
    manifest-resolved read racing a swap could aggregate a partial
    snapshot with no error (measured: 3,904 resolved -> 1,728
    inputFiles -> 45%% of the store, silently). ``open_snapshot``
    re-verifies ``df.inputFiles()`` against the resolved list; this
    test pins both faces: a complete index passes through, and a
    partial one retries then fails LOUD (simulated by forcing the
    resolve to claim more files than the index will hold)."""
    from mapreduce_inverted_index_spark.operators import store as store_mod
    from mapreduce_inverted_index_spark.operators.similarity import (
        delete_from_ivf_cells,
    )

    path = str(tmp_path / "cells")
    emb, _ = _seed_cells(spark, path)
    df, _ = store_mod.open_snapshot(spark, path, "cell")
    total = df.count()
    assert total == emb.count()

    # force a manifest that names one file the FileIndex will not hold
    # (a real listing race drops existing-at-resolve-time files; here
    # we fake the same mismatch by naming a file twice, which the
    # index counts once) — open_snapshot must NOT hand back a DataFrame
    real = store_mod.read_manifest

    def over_resolving(p, part_col):
        m = real(p, part_col)
        k = sorted(m["parts"])[0]
        m["parts"][k] = m["parts"][k] + m["parts"][k][:1]
        return m

    monkeypatch.setattr(store_mod, "read_manifest", over_resolving)
    monkeypatch.setattr(
        store_mod,
        "_read_committed",
        functools.partial(store_mod._read_committed, retries=3, wait_sec=0.01),
    )
    with pytest.raises(RuntimeError, match="committed snapshot"):
        store_mod.open_snapshot(spark, path, "cell")
    monkeypatch.undo()

    # and the committed-empty path opens as an empty DataFrame
    all_ids = [r["vec_id"] for r in emb.select("vec_id").collect()]
    delete_from_ivf_cells(spark, path, all_ids)
    df, manifest = store_mod.open_snapshot(spark, path, "cell")
    assert manifest["parts"] == {} and df.count() == 0


def test_manifest_schema_carries_forward_across_swaps(
    spark, tmp_path, monkeypatch
):
    """Rewrite commits (delete/merge) write the manifest WITHOUT the
    seed's metadata — the seed-recorded schema (and, for the index
    store, ``n_buckets``) must survive them and a crash after the
    manifest rename, so the store stays empty-readable and hashes new
    terms with its own arity after any mutation sequence."""
    from mapreduce_inverted_index_spark.operators import store as store_mod
    from mapreduce_inverted_index_spark.operators.inverted_index import (
        build_index,
        delete_from_index_store,
        merge_into_index_store,
        read_index_store,
        write_index_store,
    )
    from mapreduce_inverted_index_spark.operators.similarity import (
        delete_from_ivf_cells,
    )
    from mapreduce_inverted_index_spark.operators.store import (
        MANIFEST_NAME,
        read_manifest,
    )

    path = str(tmp_path / "cells")
    emb, _ = _seed_cells(spark, path)
    schema0 = read_manifest(path, "cell")["schema"]
    assert any(f["name"] == "vec_id" for f in json.loads(schema0)["fields"])

    some = [r["vec_id"] for r in emb.select("vec_id").limit(3).collect()]
    delete_from_ivf_cells(spark, path, some)
    assert os.path.isfile(f"{path}/{MANIFEST_NAME}")
    assert read_manifest(path, "cell")["schema"] == schema0

    # the index store: seed -> merge -> delete -> crash after commit
    idx = str(tmp_path / "index")
    docs = spark.createDataFrame(
        [(i, f"alpha{chr(97 + i)} common") for i in range(6)],
        "doc_id bigint, text string",
    )
    write_index_store(build_index(docs), idx, n_buckets=5)
    seeded = read_manifest(idx, "bucket")
    assert seeded["n_buckets"] == 5
    more = spark.createDataFrame(
        [(10, "betaq common"), (11, "gammaq")], "doc_id bigint, text string"
    )
    merge_into_index_store(spark, idx, build_index(more))
    delete_from_index_store(spark, idx, [0])

    real_remove = os.remove

    def dying_remove(p, *a, **k):
        if str(p).startswith(idx + "/bucket="):
            raise OSError("injected crash before the old files go")
        return real_remove(p, *a, **k)

    monkeypatch.setattr(store_mod.os, "remove", dying_remove)
    with pytest.raises(OSError, match="injected crash"):
        delete_from_index_store(spark, idx, [1])
    monkeypatch.undo()
    # the next writer's entry: a ghost delete commits nothing
    assert delete_from_index_store(spark, idx, [999]) == []

    healed = read_manifest(idx, "bucket")
    assert healed["n_buckets"] == 5
    assert healed["schema"] == seeded["schema"]
    assert healed["version"] != seeded["version"]
    # doc 1's delete is committed, like doc 0's
    want = docs.where(~F.col("doc_id").isin([0, 1])).unionByName(more)
    got = {
        (r["term"], tuple(r["postings"]))
        for r in read_index_store(spark, idx).collect()
    }
    assert got == {
        (r["term"], tuple(r["postings"]))
        for r in build_index(want).collect()
    }
