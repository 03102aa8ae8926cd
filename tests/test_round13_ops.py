"""Round-13 additions: manifest-from-birth for stream-born partitioned
stores (the append-storm race closed this round) and the
transformWithState RocksDB provider scoping."""
import json
import os

import pyspark.sql.functions as F


def test_stream_born_cell_store_carries_manifest(spark, tmp_path):
    """A partitioned store created by the maintenance loop's FIRST
    batch must carry the reader manifest from birth (r13): before,
    a stream-born store stayed manifest-less until its first
    delete/compact, so probe reads were directory listings and a
    multi-cell append was not atomic to them — a concurrent reader
    could see some cells' new batch file but not others. The dup log
    is a partitioned store too (partition column ``batch``) and
    carries its manifest from the first batch as well."""
    from mapreduce_inverted_index_spark.operators.store import (
        MANIFEST_NAME,
        read_manifest,
    )
    from mapreduce_inverted_index_spark.streaming.ingest import (
        maintain_semantic_cells_available_now,
    )

    def manifest_files(cells):
        with open(f"{cells}/{MANIFEST_NAME}") as f:
            m = json.load(f)
        return {
            f"cell={v}/{fn}"
            for v, fns in m["parts"].items()
            for fn in fns
        }

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    land = str(tmp_path / "landing")
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")

    emb.where(F.col("vec_id") % 2 == 0).coalesce(1).write.mode(
        "append"
    ).parquet(land)
    maintain_semantic_cells_available_now(
        spark, land, state, ckpt, n_cells=4, tau=0.2, max_files_per_cell=None
    )
    cells = f"{state}/cells"
    assert os.path.isfile(f"{cells}/{MANIFEST_NAME}")
    assert read_manifest(cells, "cell")["parts"], (
        "first-publish manifest resolves no files"
    )
    listed = manifest_files(cells)
    on_disk = {
        f"{d}/{p}"
        for d in os.listdir(cells)
        if d.startswith("cell=")
        for p in os.listdir(f"{cells}/{d}")
        if p.endswith(".parquet")
    }
    assert listed == on_disk

    # a second pass's append lands IN the manifest (refresh inside
    # the lease), so manifest-resolved readers see the whole batch
    emb.where(F.col("vec_id") % 2 == 1).coalesce(1).write.mode(
        "append"
    ).parquet(land)
    maintain_semantic_cells_available_now(
        spark, land, state, ckpt, n_cells=4, tau=0.2, max_files_per_cell=None
    )
    listed2 = manifest_files(cells)
    assert len(listed2) > len(listed)
    assert os.path.isfile(f"{state}/dups/{MANIFEST_NAME}")


def test_derived_partsupp_properties(spark):
    """The deterministic partsupp derivation (queries_relational_tpch
    module banner): 4 DISTINCT suppliers per part, every supplier
    covered, keys inside [0, S), availqty in [1, 9999], supplycost
    cents in [100, 99999] — the dbgen-formula guarantees the four
    partsupp-grounded TPC-H queries lean on."""
    from mapreduce_inverted_index_spark.plans.queries_relational_tpch import (
        _partsupp,
    )

    sf = "/root/testdata/sf0.001"
    ps = _partsupp(spark, sf).persist()
    n_part = spark.read.parquet(f"{sf}/part.parquet").count()
    n_supp = spark.read.parquet(f"{sf}/supplier.parquet").count()
    row = ps.agg(
        F.count("*").alias("n"),
        F.countDistinct("ps_partkey", "ps_suppkey").alias("nd"),
        F.countDistinct("ps_suppkey").alias("ns"),
        F.min("ps_suppkey").alias("mn"),
        F.max("ps_suppkey").alias("mx"),
        F.min("ps_availqty").alias("qmn"),
        F.max("ps_availqty").alias("qmx"),
        F.min("ps_supplycost_cents").alias("cmn"),
        F.max("ps_supplycost_cents").alias("cmx"),
    ).collect()[0]
    assert row["n"] == 4 * n_part
    assert row["nd"] == row["n"], "duplicate (part, supplier) pair"
    assert row["ns"] == min(n_supp, 4 * n_part)
    assert 0 <= row["mn"] and row["mx"] < n_supp
    assert 1 <= row["qmn"] and row["qmx"] <= 9999
    assert 100 <= row["cmn"] and row["cmx"] <= 99999
    per_part = (
        ps.groupBy("ps_partkey")
        .agg(F.countDistinct("ps_suppkey").alias("k"))
        .agg(F.min("k").alias("kmin"))
        .collect()[0]
    )
    assert per_part["kmin"] == 4, "a part with < 4 distinct suppliers"
    ps.unpersist()


def test_tws_provider_conf_restored(spark):
    """tws_user_type_totals pins the RocksDB state-store provider for
    its own query (transformWithState keeps each state variable in a
    separate column family, which the default HDFS-backed provider
    rejects) and must restore the session's previous provider conf
    either way. Without protobuf the operator raises its documented
    ImportError BEFORE building the plan — the conf must be untouched
    on that path too; with protobuf the green run is recorded by
    tools/run_tws_check.py (TWS_CHECK.json)."""
    from mapreduce_inverted_index_spark.streaming.stateful import (
        tws_user_type_totals,
    )

    key = "spark.sql.streaming.stateStore.providerClass"
    before = spark.conf.get(key, None)
    try:
        out = tws_user_type_totals(spark, "/root/testdata/sf0.001")
        n = out.count()
        assert n > 0
    except ImportError as e:
        assert "protobuf" in str(e)
    assert spark.conf.get(key, None) == before
