"""Streaming semantics beyond single-batch equality: exact-boundary
session merging (pins the oracle's comparison operator) and a
two-micro-batch watermark test proving late data is actually gated —
a single AvailableNow batch can't distinguish watermarking from plain
batch aggregation, two batches with an advanced watermark can.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F


def _sessions(spark, rows, gap="30 minutes"):
    df = spark.createDataFrame(rows, "user_id int, ts string").withColumn(
        "ts", F.to_timestamp("ts")
    )
    out = (
        df.groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").cast("string").alias("start"),
                F.col("w.end").cast("string").alias("end"), "n")
    )
    return sorted(out.collect())


def test_session_window_exact_gap_boundary_merges(spark):
    """Events exactly ``gap`` apart MERGE (inclusive boundary): Spark's
    session assignment extends a session whose end equals the next
    event's time. This pins the semantics the stream_session_windows
    oracle encodes with ``<= INTERVAL 30 MINUTE`` (gaps-and-islands):
    both treat the exact-boundary event as the same session.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    got = _sessions(
        spark, [(1, "2024-01-01 00:00:00"), (1, "2024-01-01 00:30:00")]
    )
    assert got == [("2024-01-01 00:00:00", "2024-01-01 01:00:00", 2)]


def test_session_window_past_gap_boundary_splits(spark):
    """One second past the gap -> two sessions (the complement bound)."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    got = _sessions(
        spark, [(1, "2024-01-01 00:00:00"), (1, "2024-01-01 00:30:01")]
    )
    assert got == [
        ("2024-01-01 00:00:00", "2024-01-01 00:30:00", 1),
        ("2024-01-01 00:30:01", "2024-01-01 01:00:01", 1),
    ]


def _write_events_file(path: str, rows: list[tuple[int, str]], mtime: float) -> None:
    import datetime as dt

    tbl = pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array(
                [dt.datetime.fromisoformat(r[1]) for r in rows],
                pa.timestamp("us"),
            ),
        }
    )
    pq.write_table(tbl, path)
    os.utime(path, (mtime, mtime))


def test_watermark_drops_late_event_across_micro_batches(spark, tmp_path):
    """Multi-micro-batch watermark gating (maxFilesPerTrigger=1 under
    AvailableNow): batch 1 carries an event at 02:00, advancing the 1h
    watermark to 01:00 and finalizing the [00:00, 00:30) window with 2
    events; a later batch replays a LATE event at 00:10. Its window is
    already closed, so the sink must still show n=2 — proving the
    watermark actually gates late data (a single-batch run can't
    distinguish watermarking from plain batch aggregation).

    Empirical Spark detail this pins: the watermark commit lags one
    batch (batch N filters with the watermark derived from data seen
    through batch N-1's COMMIT), so the late file arrives two batches
    after the advancing event, with a buffer batch between.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    src = tmp_path / "stream_src"
    src.mkdir()
    now = 1_700_000_000.0
    # File order = modification time for the file stream source.
    _write_events_file(
        str(src / "b1.parquet"),
        [(1, "2024-01-01 00:00:10"), (2, "2024-01-01 00:20:00"),
         (3, "2024-01-01 02:00:00")],  # advances wm to 01:00
        mtime=now,
    )
    _write_events_file(  # buffer batch: lets the wm commit take effect
        str(src / "b2.parquet"), [(9, "2024-01-01 02:10:00")], mtime=now + 60
    )
    _write_events_file(
        str(src / "b3.parquet"),
        [(4, "2024-01-01 00:10:00"),  # LATE: watermark is past 01:00
         (5, "2024-01-01 02:30:00")],
        mtime=now + 120,
    )
    _write_events_file(  # flush: emit remaining closed windows
        str(src / "b4.parquet"), [(6, "2024-01-01 04:00:00")], mtime=now + 180
    )

    stream = (
        spark.readStream.schema("event_id bigint, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "30 minutes").alias("w"))
        .agg(F.count("*").alias("n"))
    )
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("mii_watermark_gate_sink")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert q.lastProgress["batchId"] >= 3, "expected at least 4 micro-batches"

    sink = spark.table("mii_watermark_gate_sink").select(
        F.col("w.start").cast("string").alias("start"), "n"
    )
    rows = {r["start"]: r["n"] for r in sink.collect()}
    # The late event at 00:10 must NOT have bumped the closed window.
    assert rows["2024-01-01 00:00:00"] == 2
    # ... and the on-time events in the same late batch still counted.
    assert rows["2024-01-01 02:30:00"] == 1


def test_incremental_ingest_walker(spark, tmp_path):
    """S1 walker parity: three AvailableNow passes over a growing
    directory. Pass 1 ingests the initial files, pass 2 ingests ONLY
    the new arrival (checkpoint = the walker's cursor), pass 3 with
    nothing new is a no-op — exactly-once per file, like the
    reference master's seen-page bookkeeping."""
    from mapreduce_inverted_index_spark.streaming.ingest import (
        ingest_available_now,
        stream_text_corpus,
    )

    src = tmp_path / "landing"
    sink = str(tmp_path / "corpus_sink")
    ckpt = str(tmp_path / "ckpt")
    src.mkdir()
    (src / "page1.txt").write_text("alpha doc")
    (src / "page2.txt").write_text("beta doc")

    ingest_available_now(stream_text_corpus(spark, str(src)), sink, ckpt)
    first = spark.read.parquet(sink).collect()
    assert sorted(r["text"] for r in first) == ["alpha doc", "beta doc"]

    (src / "page3.txt").write_text("gamma doc")
    ingest_available_now(stream_text_corpus(spark, str(src)), sink, ckpt)
    second = spark.read.parquet(sink).collect()
    assert sorted(r["text"] for r in second) == [
        "alpha doc", "beta doc", "gamma doc"
    ]

    ingest_available_now(stream_text_corpus(spark, str(src)), sink, ckpt)
    third = spark.read.parquet(sink).collect()
    assert len(third) == 3  # no duplicates: nothing new arrived


def test_stream_maintained_index_equals_batch_rebuild(spark, tmp_path):
    """Incremental index maintenance end-to-end: three AvailableNow
    passes over a growing landing dir, each folding ONLY the new files
    into the persisted index via delta-build + term merge. After every
    pass the stored index must equal a from-scratch batch
    ``build_index`` over all files so far (same provenance-hash ids),
    and a pass with nothing new must leave the index untouched — the
    incremental replacement for the reference's rebuild-per-run model
    (``master/src/master.py:123-176``). The first pass seeds the
    bucketed store; later passes merge bucket-locally."""
    from mapreduce_inverted_index_spark.operators.inverted_index import (
        build_index,
        read_index_store,
    )
    from mapreduce_inverted_index_spark.operators.store import read_manifest
    from mapreduce_inverted_index_spark.streaming.ingest import (
        maintain_index_available_now,
        streamed_doc_ids,
    )

    src = tmp_path / "landing"
    index_dir = str(tmp_path / "index")
    ckpt = str(tmp_path / "ckpt")
    src.mkdir()

    def batch_rebuild():
        corpus = (
            spark.read.format("text")
            .option("wholetext", "true")
            .load(str(src))
            .select(F.input_file_name().alias("source"), F.col("value").alias("text"))
        )
        return build_index(streamed_doc_ids(corpus))

    def stored():
        return sorted(
            (r["term"], tuple(r["postings"]), r["df"])
            for r in read_index_store(spark, index_dir).collect()
        )

    def expected():
        return sorted(
            (r["term"], tuple(r["postings"]), r["df"])
            for r in batch_rebuild().collect()
        )

    (src / "a.txt").write_text("spark streams merge indexes")
    (src / "b.txt").write_text("spark merges batches")
    maintain_index_available_now(spark, str(src), index_dir, ckpt)
    assert stored() == expected()
    # stream-born as a bucketed store, not a flat parquet dir
    assert read_manifest(index_dir, "bucket")["n_buckets"] == 16

    (src / "c.txt").write_text("indexes grow as streams arrive")
    maintain_index_available_now(spark, str(src), index_dir, ckpt)
    after_two = stored()
    assert after_two == expected()

    maintain_index_available_now(spark, str(src), index_dir, ckpt)  # no new files
    assert stored() == after_two


def test_outer_join_nulls_gated_by_watermark_across_batches(spark, tmp_path):
    """Pin stream_attribution_join_outer's emission mechanics on a
    hand-crafted multi-batch timeline (same watermarks/condition as
    the operator): a never-matched click emits its NULL row only
    because later batches advance the two-source watermark past its
    join window, while unmatched clicks whose windows are still open
    at termination are withheld — the state-eviction contract, not a
    batch-join approximation of it."""
    import datetime as dt
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    src = tmp_path / "oj_src"
    src.mkdir()
    now = 1_700_000_000.0

    def write(name, rows, mtime):
        tbl = pa.table(
            {
                "event_id": pa.array([r[0] for r in rows], pa.int64()),
                "ts": pa.array(
                    [dt.datetime.fromisoformat(r[1]) for r in rows],
                    pa.timestamp("us"),
                ),
                "user_id": pa.array([r[2] for r in rows], pa.int64()),
                "event_type": pa.array([r[3] for r in rows], pa.string()),
            }
        )
        path = str(src / name)
        pq.write_table(tbl, path)
        os.utime(path, (mtime, mtime))

    # b1: C1 never converts; C2 converts at +25min (inside 1h horizon)
    write(
        "b1.parquet",
        [
            (1, "2024-01-01 00:00:00", 1, "click"),
            (2, "2024-01-01 00:05:00", 2, "click"),
            (3, "2024-01-01 00:30:00", 2, "purchase"),
        ],
        now,
    )
    # b2-b4: advance BOTH sides' watermarks (each side only sees its
    # own type) well past C1's window; their own windows stay open.
    for i, t in enumerate(["06:00", "06:10", "08:00"]):
        write(
            f"b{i + 2}.parquet",
            [
                (10 + i, f"2024-01-01 {t}:00", 80 + i, "click"),
                (20 + i, f"2024-01-01 {t}:30", 90 + i, "purchase"),
            ],
            now + 60 * (i + 1),
        )

    def side(tp, a, b, c):
        return (
            spark.readStream.schema(
                "event_id bigint, ts timestamp, user_id bigint, event_type string"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
            .where(F.col("event_type") == tp)
            .withWatermark("ts", "2 hours")
            .select(
                F.col("user_id").alias(a),
                F.col("event_id").alias(b),
                F.col("ts").alias(c),
            )
        )

    joined = side("click", "user_id", "click_id", "click_ts").join(
        side("purchase", "p_user_id", "purchase_id", "purchase_ts"),
        F.expr(
            "user_id = p_user_id AND purchase_ts > click_ts "
            "AND purchase_ts <= click_ts + INTERVAL 1 hour"
        ),
        "left_outer",
    )
    q = (
        joined.writeStream.outputMode("append")
        .format("memory")
        .queryName("mii_oj_gate_sink")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert q.lastProgress["batchId"] >= 3, "expected at least 4 micro-batches"

    out = spark.table("mii_oj_gate_sink").collect()
    matched = {(r.click_id, r.purchase_id) for r in out if r.purchase_id is not None}
    nulls = {r.click_id for r in out if r.purchase_id is None}
    assert matched == {(2, 3)}, "only C2 converted inside the horizon"
    assert nulls == {1}, (
        "exactly the closed-window unmatched click emits NULL; clicks "
        "whose windows the final watermark never passed stay withheld"
    )
