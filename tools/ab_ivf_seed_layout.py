"""Interleaved A/B: unclustered vs clustered IVF seed write, timing
the full seed-then-probe cycle the contract query pays per bench pass
(VERDICT r13 ask #5's timing face; `tools/evidence_ivf_layout.py` is
the file-count face).

OLD arm reproduces the pre-r14 `write_ivf_cells` body — the map-only
assignment straight into ``partitionBy(cell)`` (tasks x cells output
files) — inside the same lease/purge/manifest envelope; NEW arm is
the committed clustered form. Each run seeds a fresh store from a
32-partition assignment (the multi-task shape a cluster scan has) and
mines hard negatives against it; arms alternate order per pair.

Usage: python tools/ab_ivf_seed_layout.py [n_pairs] [sf_dir]
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO_ROOT not in sys.path:
    sys.path.insert(0, REPO_ROOT)


def main() -> None:
    n_pairs = int(sys.argv[1]) if len(sys.argv) > 1 else 4
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"

    from pyspark.sql import functions as F

    from mapreduce_inverted_index_spark.operators.similarity import (
        hard_negatives_ivf,
        ivf_assign,
        ivf_centroids,
        write_ivf_cells,
    )
    from mapreduce_inverted_index_spark.operators.store import seed_store
    from mapreduce_inverted_index_spark.session import get_spark

    spark = get_spark(
        app_name="ab-ivf-seed-layout",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cents = ivf_centroids(emb, n_cells=16).localCheckpoint(eager=True)
    anchors = emb.where(F.col("vec_id") < 50).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
        F.col("label").alias("query_label"),
    )

    def assigned():
        return ivf_assign(emb.repartition(32), cents, extra_cols=("label",))

    def seed_old(path: str) -> None:
        # pre-r14 write_ivf_cells body: no repartition, no sort
        seed_store(assigned(), path, "cell")

    def seed_new(path: str) -> None:
        write_ivf_cells(assigned(), path)

    def cycle(seed) -> float:
        base = tempfile.mkdtemp(prefix="mii_ab_seed_")
        path = os.path.join(base, "cells")
        t0 = time.perf_counter()
        seed(path)
        n = hard_negatives_ivf(spark, path, cents, anchors, k=3, n_probe=8).count()
        dt = time.perf_counter() - t0
        shutil.rmtree(base, ignore_errors=True)
        assert n > 0
        return dt

    res = {"old": [], "new": []}
    # one untimed warmup of each arm (codegen/JIT)
    cycle(seed_old), cycle(seed_new)
    for i in range(n_pairs):
        order = [("old", seed_old), ("new", seed_new)]
        if i % 2:
            order.reverse()
        for label, fn in order:
            dt = cycle(fn)
            res[label].append(round(dt, 3))
            print(f"pair {i} {label}: {dt:.3f}s", flush=True)
    for label, xs in res.items():
        ys = sorted(xs)
        print(
            f"SUMMARY seed+probe {label}: min={ys[0]:.3f} "
            f"median={ys[len(ys) // 2]:.3f} all={xs}"
        )


if __name__ == "__main__":
    main()
