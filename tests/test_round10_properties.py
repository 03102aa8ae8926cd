"""Round-10 property test (VERDICT r9 ask #5): crash recovery for a
takedown applied THROUGH the streaming maintenance loop.

``maintain_takedowns_available_now`` folds each micro-batch via
``delete_from_index_store`` (locate affected buckets → row-local
postings filter → ``swap_partition_dirs`` commit). A crash BETWEEN the locate and the
swap means the batch's work is lost but nothing was committed; the
checkpoint must NOT have advanced past the batch, so the next pass
replays it and the store converges to exactly
``build_index(corpus minus taken-down ids)`` — the exactly-once story
the flat-store and swap-level tests prove, here proven across the
streaming commit boundary for arbitrary corpora and batches.
"""

from __future__ import annotations

import os

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

_SETTINGS = dict(
    # each example runs two AvailableNow passes; MII_HYP_EXAMPLES lets a
    # soak run widen the search without touching the default CI cost
    max_examples=int(os.environ.get("MII_HYP_EXAMPLES", "4")),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

_WORDS = ["axq", "bxq", "cxq", "dxq", "exq", "fxq"]


def _index_rows(df):
    return sorted(
        (r["term"], tuple(r["postings"]), r["df"])
        for r in df.select("term", "postings", "df").collect()
    )


def test_takedown_crash_before_swap_replays_and_converges(
    spark, tmp_path_factory, monkeypatch
):
    from mapreduce_inverted_index_spark.operators.inverted_index import (
        build_index,
        read_index_store,
        write_index_store,
    )
    from mapreduce_inverted_index_spark.streaming.ingest import (
        maintain_takedowns_available_now,
    )

    counter = [0]

    @settings(**_SETTINGS)
    @given(
        texts=st.lists(
            st.lists(st.sampled_from(_WORDS), min_size=1, max_size=3),
            min_size=2,
            max_size=6,
        ),
        dead_sel=st.lists(st.integers(0, 7), min_size=1, max_size=4),
    )
    def run(texts, dead_sel):
        counter[0] += 1
        base = tmp_path_factory.mktemp(f"tdcrash{counter[0]}")
        index_dir = str(base / "index")
        queue = str(base / "queue")
        ckpt = str(base / "ckpt")
        docs = spark.createDataFrame(
            [(i, " ".join(ws)) for i, ws in enumerate(texts)],
            "doc_id bigint, text string",
        )
        write_index_store(build_index(docs), index_dir)
        # guarantee at least one REAL doc dies: a ghost-only batch
        # never reaches the swap (delete_from_index_store no-ops), so
        # the injection would have nothing to crash
        dead = sorted(set(dead_sel) | {0})
        spark.createDataFrame(
            [(int(d),) for d in dead], "doc_id bigint"
        ).coalesce(1).write.mode("append").parquet(queue)

        # inject: the FIRST swap attempt dies after locate, before any
        # directory is touched (the locate collect already ran; the
        # commit never starts) — the worst-case "work lost, nothing
        # committed" point
        from mapreduce_inverted_index_spark.operators import store as store_mod

        real = store_mod.swap_partition_dirs
        state = {"fail": True}

        def dying_swap(path, remaining, part_col, affected):
            if state["fail"]:
                state["fail"] = False
                raise OSError("injected crash between locate and swap")
            return real(path, remaining, part_col, affected)

        monkeypatch.setattr(store_mod, "swap_partition_dirs", dying_swap)
        try:
            # the streaming query surfaces the foreachBatch error
            with pytest.raises(Exception, match="injected crash"):
                maintain_takedowns_available_now(
                    spark, queue, index_dir, ckpt
                )
            # nothing committed: the store still equals the pre-batch
            # index (locate ran, no dir was swapped)
            assert _index_rows(read_index_store(spark, index_dir)) == (
                _index_rows(build_index(docs))
            )
            # restart: the checkpoint replays the uncommitted batch
            maintain_takedowns_available_now(spark, queue, index_dir, ckpt)
        finally:
            monkeypatch.setattr(store_mod, "swap_partition_dirs", real)
        want = _index_rows(
            build_index(docs.where(~F.col("doc_id").isin(dead)))
        )
        assert _index_rows(read_index_store(spark, index_dir)) == want
        # and a further pass with no new files is a no-op (the batch
        # was committed exactly once)
        maintain_takedowns_available_now(spark, queue, index_dir, ckpt)
        assert _index_rows(read_index_store(spark, index_dir)) == want

    run()
