"""Every state the streaming loops maintain commits through
``operators/store.py``: the semantic loop's appends run the same
entry-time crash recovery as every other mutator, and its codebook is
a manifest-committed store, so a crashed writer's leftovers are healed
or refused instead of silently read."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F


def _cell_pairs(df):
    return sorted((r["vec_id"], r["cell"]) for r in df.collect())


def test_append_after_crashed_compaction_loses_no_vectors(
    spark, sf_smoke, tmp_path, monkeypatch
):
    """A compaction that dies after renaming one cell aside leaves
    that cell's rows only in its swap tmp. The next semantic pass
    must roll that back before it appends: appending first recreates
    the cell holding only the new batch, and the next compaction's
    rollback then discards the batch's rows in that cell."""
    from mapreduce_inverted_index_spark.operators import store as store_mod
    from mapreduce_inverted_index_spark.operators.similarity import (
        compact_ivf_cells,
        ivf_assign,
    )
    from mapreduce_inverted_index_spark.streaming.ingest import (
        maintain_semantic_cells_available_now,
    )

    emb = spark.read.parquet(f"{sf_smoke}/embeddings.parquet")
    land = str(tmp_path / "landing")
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    cells = f"{state}/cells"

    def semantic_pass(k):
        emb.where(F.col("vec_id") % 3 == k).coalesce(1).write.mode(
            "append"
        ).parquet(land)
        maintain_semantic_cells_available_now(
            spark, land, state, ckpt, n_cells=4, max_files_per_cell=None
        )

    semantic_pass(0)
    semantic_pass(1)

    real_rename = os.rename

    def dying_rename(src, dst):
        real_rename(src, dst)
        raise OSError("injected crash after the first rename-aside")

    monkeypatch.setattr(store_mod.os, "rename", dying_rename)
    with pytest.raises(OSError, match="injected crash"):
        compact_ivf_cells(spark, cells, max_files_per_cell=1)
    monkeypatch.undo()

    semantic_pass(2)
    compact_ivf_cells(spark, cells, max_files_per_cell=1)

    cents = spark.read.parquet(f"{state}/cents")
    got = _cell_pairs(spark.read.parquet(cells))
    assert len(got) == emb.count()
    assert got == _cell_pairs(ivf_assign(emb, cents))


def test_codebook_write_residue_does_not_wedge_the_semantic_loop(
    spark, sf_smoke, tmp_path
):
    """A codebook write killed before its job commit leaves only
    ``cents/_temporary``. Before any vector is assigned, the loop
    must reseed the codebook instead of reading that residue (which
    fails schema inference on every replay)."""
    from mapreduce_inverted_index_spark.operators.similarity import ivf_assign
    from mapreduce_inverted_index_spark.streaming.ingest import (
        maintain_semantic_cells_available_now,
    )

    emb = spark.read.parquet(f"{sf_smoke}/embeddings.parquet").where(
        F.col("vec_id") % 2 == 0
    )
    land = str(tmp_path / "landing")
    state = str(tmp_path / "state")
    emb.coalesce(1).write.parquet(land)
    os.makedirs(f"{state}/cents/_temporary/0")

    maintain_semantic_cells_available_now(
        spark, land, state, str(tmp_path / "ckpt"), n_cells=4
    )

    cents = spark.read.parquet(f"{state}/cents")
    got = _cell_pairs(spark.read.parquet(f"{state}/cells"))
    assert len(got) == emb.count()
    assert got == _cell_pairs(ivf_assign(emb, cents))


def test_mg_loop_refuses_a_state_dir_without_manifest(spark, tmp_path):
    """The Misra-Gries state follows the index loop's rule: a missing
    directory is seeded, but one without a store manifest (a seed that
    died before its commit) fails the micro-batch loud instead of being
    merged into as if it were committed state."""
    from mapreduce_inverted_index_spark.streaming.sketches import (
        maintain_frequent_terms_available_now,
    )

    land = str(tmp_path / "landing")
    state = str(tmp_path / "state")
    spark.createDataFrame(
        [(1, "alpha beta")], "doc_id bigint, text string"
    ).coalesce(1).write.parquet(land)
    # a flat summary: not a store, so not committed state
    flat = spark.createDataFrame([("alpha", 5)], "term string, n bigint")
    flat.write.parquet(state)

    with pytest.raises(Exception, match="_mii_manifest.json"):
        maintain_frequent_terms_available_now(
            spark, land, state, str(tmp_path / "ckpt"), k=5, glob="*.parquet"
        )
