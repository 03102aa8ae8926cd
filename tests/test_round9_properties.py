"""Property tests (hypothesis) for the round-9 store lifecycle, plus
a crash-injection proof for the store's commit: for arbitrary tiny
corpora and arbitrary delete/merge batches the bucketed store must
equal the batch rebuild, and a rename that dies mid-commit must never
lose a row (the store keeps reading as its pre-batch snapshot)."""

from __future__ import annotations

import os

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

_SETTINGS = dict(
    # MII_HYP_EXAMPLES widens the search for soak runs (CI default 6)
    max_examples=int(os.environ.get("MII_HYP_EXAMPLES", "6")),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

# tiny letter-only vocabulary (the tokenizer strips digits) with
# repeats, so postings/df exercise multi-doc terms and bucket reuse
_WORDS = ["axq", "bxq", "cxq", "dxq", "exq", "fxq"]


def _index_rows(df):
    return sorted(
        (r["term"], tuple(r["postings"]), r["df"])
        for r in df.select("term", "postings", "df").collect()
    )


def test_store_delete_property(spark, tmp_path_factory):
    """delete_from_index_store == build_index of the survivors, for
    arbitrary corpora and arbitrary (possibly ghost-heavy, possibly
    total) deletion batches."""
    from mapreduce_inverted_index_spark.operators.inverted_index import (
        build_index,
        delete_from_index_store,
        read_index_store,
        write_index_store,
    )

    counter = [0]

    @settings(**_SETTINGS)
    @given(
        texts=st.lists(
            st.lists(st.sampled_from(_WORDS), min_size=1, max_size=4),
            min_size=1,
            max_size=8,
        ),
        dead_sel=st.lists(st.integers(0, 9), min_size=0, max_size=6),
    )
    def run(texts, dead_sel):
        counter[0] += 1
        path = str(
            tmp_path_factory.mktemp(f"delprop{counter[0]}") / "store"
        )
        docs = spark.createDataFrame(
            [(i, " ".join(ws)) for i, ws in enumerate(texts)],
            "doc_id bigint, text string",
        )
        write_index_store(build_index(docs), path)
        dead = sorted(set(dead_sel))  # may include ghosts (>= len)
        delete_from_index_store(spark, path, dead or [10**9])
        want = _index_rows(
            build_index(docs.where(~F.col("doc_id").isin(dead or [10**9])))
        )
        # read_index_store handles the fully-emptied store directly
        # (manifest names no files → empty index of the recorded schema)
        got = _index_rows(read_index_store(spark, path))
        assert got == want

    run()


def test_store_merge_property(spark, tmp_path_factory):
    """merge_into_index_store(build(A), build(B)) == build(A ∪ B) for
    arbitrary disjoint corpus splits, including empty deltas and
    deltas whose vocabulary is entirely new."""
    from mapreduce_inverted_index_spark.operators.inverted_index import (
        build_index,
        merge_into_index_store,
        read_index_store,
        write_index_store,
    )

    counter = [0]

    @settings(**_SETTINGS)
    @given(
        texts=st.lists(
            st.lists(
                st.sampled_from(_WORDS + ["zzq", "yyq"]),
                min_size=1,
                max_size=4,
            ),
            min_size=2,
            max_size=8,
        ),
        cut=st.integers(1, 7),
    )
    def run(texts, cut):
        counter[0] += 1
        path = str(
            tmp_path_factory.mktemp(f"mrgprop{counter[0]}") / "store"
        )
        docs = spark.createDataFrame(
            [(i, " ".join(ws)) for i, ws in enumerate(texts)],
            "doc_id bigint, text string",
        )
        k = min(cut, len(texts) - 1)
        old = docs.where(F.col("doc_id") < k)
        new = docs.where(F.col("doc_id") >= k)
        write_index_store(build_index(old), path)
        merge_into_index_store(spark, path, build_index(new))
        assert _index_rows(read_index_store(spark, path)) == _index_rows(
            build_index(docs)
        )

    run()


def test_swap_crash_between_renames_loses_nothing(spark, tmp_path, monkeypatch):
    """Kill the commit between its first and second rename (one staged
    file moved into its live partition directory, its checksum still
    staged): every file the manifest names is still on disk and
    unchanged, so the store reads exactly as before the batch, and the
    staged rest of the batch survives in the tmp sibling. Nothing the
    old snapshot names was unlinked or overwritten."""
    import json

    from mapreduce_inverted_index_spark.operators import store as store_mod
    from mapreduce_inverted_index_spark.operators.inverted_index import (
        build_index,
        delete_from_index_store,
        read_index_store,
        write_index_store,
    )
    from mapreduce_inverted_index_spark.operators.store import MANIFEST_NAME

    docs = spark.createDataFrame(
        [(i, f"alpha{chr(97 + i)} common") for i in range(8)],
        "doc_id bigint, text string",
    )
    path = str(tmp_path / "store")
    write_index_store(build_index(docs), path)
    before = _index_rows(
        spark.read.parquet(path).select("term", "postings", "df")
    )
    with open(f"{path}/{MANIFEST_NAME}") as f:
        manifest = json.load(f)
    named = {
        f"bucket={k}/{fn}": os.path.getsize(f"{path}/bucket={k}/{fn}")
        for k, fns in manifest["parts"].items()
        for fn in fns
    }

    real_rename = os.rename
    calls = {"n": 0}

    def dying_rename(src, dst):
        calls["n"] += 1
        if calls["n"] == 2:  # after one move, before its checksum
            raise OSError("injected crash mid-commit")
        real_rename(src, dst)

    monkeypatch.setattr(store_mod.os, "rename", dying_rename)
    with pytest.raises(OSError, match="injected crash"):
        delete_from_index_store(spark, path, [0])
    monkeypatch.undo()

    # the uuid tmp sibling keeps the staged rest of the batch
    assert [
        d for d in os.listdir(str(tmp_path)) if d.startswith("store.tmp-")
    ], "the uuid tmp dir must survive the crash"
    # every named file is on disk at its committed size, the manifest
    # is the pre-batch one, and a reader sees the pre-batch rows
    with open(f"{path}/{MANIFEST_NAME}") as f:
        assert json.load(f) == manifest
    assert {
        p: os.path.getsize(f"{path}/{p}") for p in named
    } == named
    got = _index_rows(read_index_store(spark, path))
    assert got == before  # the ORIGINAL store reads exactly
