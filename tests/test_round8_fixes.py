"""Round-8 regression tests for the VERDICT r7 / ADVICE r7 fixes:

1. ``delete_from_index`` has one plan for every batch: a row-local
   filter of each postings array against one id set (no explode, no
   join, no shuffle), whose result equals ``build_index`` of the
   surviving corpus.
2. ``q_index_delete_docs`` demo derivation is bounded: the collected
   deletion list is capped at 64 ids regardless of corpus size.
3. ``semantic_incremental_dedup`` broadcast hint is gated: a batch
   above the probe threshold must fall back to a shuffle join (no
   broadcast hint on an unbounded side) with identical results.
4. ``HttpCrawlStreamReader`` fetches each listing page at most once
   per micro-batch (the exhaustion probe must reuse its response as
   page one, not re-fetch).
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from mapreduce_inverted_index_spark.operators.inverted_index import (
    build_index,
    delete_from_index,
)
from mapreduce_inverted_index_spark.sources.tables import load_table


def _docs(spark, sf_smoke):
    return load_table(spark, sf_smoke, "documents")


# -------------------------------------- 1. delete_from_index

def test_delete_matches_rebuild(spark, sf_smoke):
    docs = _docs(spark, sf_smoke)
    index = build_index(docs)
    dead = [
        r["doc_id"]
        for r in docs.where(F.col("doc_id") % 5 == 0).select("doc_id").collect()
    ]
    out = delete_from_index(index, dead)
    rebuilt = build_index(docs.where(~F.col("doc_id").isin(dead)))

    def rows(df):
        return sorted(
            (r["term"], tuple(r["postings"]), r["df"])
            for r in df.collect()
        )

    assert rows(out) == rows(rebuilt)


def test_delete_accepts_dataframe_batch(spark, sf_smoke):
    docs = _docs(spark, sf_smoke)
    index = build_index(docs)
    dead_df = docs.where(F.col("doc_id") % 5 == 0).select("doc_id")
    out = delete_from_index(index, dead_df)
    rebuilt = build_index(docs.where(F.col("doc_id") % 5 != 0))
    assert sorted(map(tuple, out.collect())) == sorted(
        map(tuple, rebuilt.collect())
    )


@pytest.mark.parametrize(
    "batch", [[1, 2, 3], list(range(10_001))], ids=["3_ids", "10001_ids"]
)
def test_delete_plan_is_row_local(spark, sf_smoke, tmp_path, batch):
    # a stored index, as the store's delete reads one: no build shuffle
    build_index(_docs(spark, sf_smoke)).write.parquet(str(tmp_path / "idx"))
    index = spark.read.parquet(str(tmp_path / "idx"))
    plan = delete_from_index(index, batch)._jdf.queryExecution().executedPlan().toString()
    # each row filters its own postings: nothing shuffles or joins
    assert "Exchange" not in plan and "Join" not in plan, plan[:2000]
    # the ids sit in one set per lambda predicate, the whole batch in
    # each; Catalyst hashes it into an InSet above 10 values
    # (spark.sql.optimizer.inSetConversionThreshold) and keeps a
    # short list as In (the scan's DataFilters echo it cut short)
    id_sets = [
        {int(v) for v in m.group(2).split(",")}
        for m in re.finditer(
            r"lambda x\w*#\d+L (INSET |IN \()((?:\d+, ?)*\d+)(?:\)|, lambda)", plan
        )
    ]
    assert id_sets and all(s == set(batch) for s in id_sets), plan[:2000]
    assert ("INSET" in plan) == (len(batch) > 10)


# ------------------------------- 2. bounded demo derivation

# --------------------------- 3. gated broadcast in semantic dedup

def test_semantic_incremental_broadcast_gate(spark):
    from mapreduce_inverted_index_spark.operators import similarity as S

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    base = emb.where(F.col("vec_id") % 5 != 0)
    new = emb.where(F.col("vec_id") % 5 == 0)
    cents = S.ivf_centroids(base)
    cells = S.ivf_assign(base, cents).select("vec_id", "vec", "cell")

    # the default threshold broadcast-hints this batch; a threshold
    # below the batch size must take the shuffle route — the batch no
    # longer broadcast-hints unbounded
    small = S.semantic_incremental_dedup(new, cells, cents, tau=0.4, r=6)
    big = S.semantic_incremental_dedup(
        new, cells, cents, tau=0.4, r=6, broadcast_max_rows=3
    )
    want = sorted(map(tuple, small.collect()))
    assert sorted(map(tuple, big.collect())) == want
    assert len(want) > 0
    # the HINT must be gone (AQE may still pick broadcast at runtime
    # from actual sizes — that's the desired behavior: a size-based
    # runtime decision instead of an unconditional plan-time promise)
    # (the centroid joins inside ivf_multi_assign keep their own
    # broadcast hints — only the cell-join's batch-side hint must go)
    def hints(df):
        return (
            df._jdf.queryExecution().optimizedPlan().toString()
        ).count("strategy=broadcast")

    assert hints(small) == hints(big) + 1


def test_crawl_stream_fetches_each_listing_page_once():
    import json
    import threading
    from collections import Counter
    from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

    from mapreduce_inverted_index_spark.sources.crawl_source import (
        _HttpCrawlStreamReader,
    )

    hits: Counter = Counter()

    class _H(BaseHTTPRequestHandler):
        def log_message(self, *a):
            pass

        def do_GET(self):
            hits[self.path] += 1
            if self.path.startswith("/list/"):
                page = int(self.path.rsplit("/", 1)[1])
                if page >= 3:
                    self.send_error(404)
                    return
                host = self.headers["Host"]
                body = json.dumps(
                    {
                        "urls": [f"http://{host}/doc/{page * 2 + j}" for j in range(2)],
                        "doc_id_start": page * 2,
                        "next": page < 2,
                    }
                ).encode()
            else:
                body = f"doc {self.path}".encode()
            self.send_response(200)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

    srv = ThreadingHTTPServer(("127.0.0.1", 0), _H)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        base = f"http://127.0.0.1:{srv.server_address[1]}"
        reader = _HttpCrawlStreamReader(
            {"base_url": base, "pages_per_batch": "2"},
            ["doc_id", "url", "text"],
        )
        rows, end = reader.read({"page": 0})
        assert len(list(rows)) == 4 and end == {"page": 2}
        # the exhaustion probe must REUSE its response as page 0, so
        # every listing page is fetched exactly once per micro-batch
        assert hits["/list/0"] == 1
        assert hits["/list/1"] == 1
    finally:
        srv.shutdown()


def test_index_delete_demo_is_bounded(spark, sf_oracle):
    from mapreduce_inverted_index_spark.plans.registry import all_queries

    docs = load_table(spark, sf_oracle, "documents")
    n_mod7 = docs.where(F.col("doc_id") % 7 == 0).count()
    assert n_mod7 > 64, "fixture too small for the bound to matter"
    out = all_queries()["index_delete_docs"].fn(spark, sf_oracle)
    # exactly the 64 lowest mod-7 ids must be gone from all postings
    dead = set(
        r["doc_id"]
        for r in docs.where(F.col("doc_id") % 7 == 0)
        .orderBy("doc_id")
        .limit(64)
        .collect()
    )
    surviving = set(
        int(d)
        for r in out.select("postings_csv").collect()
        for d in r["postings_csv"].split(",")
    )
    assert not (dead & surviving)
    # ids above the cap survive (the old demo deleted ALL mod-7 ids)
    kept_mod7 = set(
        r["doc_id"] for r in docs.where(F.col("doc_id") % 7 == 0).collect()
    ) - dead
    assert kept_mod7 & surviving


# ------------------- round-8 second-review regression guards

def test_takedown_fold_fails_loud_without_index(spark, tmp_path):
    """Erasure ids arriving before the index exists must FAIL the
    micro-batch (uncommitted -> replayed later), never be silently
    checkpointed away; after the index appears the same files fold."""
    import pytest as _pytest

    from mapreduce_inverted_index_spark.operators.inverted_index import (
        build_index,
        read_index_store,
        write_index_store,
    )
    from mapreduce_inverted_index_spark.sources.tables import load_table
    from mapreduce_inverted_index_spark.streaming.ingest import (
        maintain_takedowns_available_now,
    )
    from pyspark.errors import StreamingQueryException

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    index_dir = str(tmp_path / "index")
    queue = str(tmp_path / "queue")
    ckpt = str(tmp_path / "ckpt")
    dead = [r["doc_id"] for r in docs.limit(5).collect()]
    spark.createDataFrame(
        [(int(i),) for i in dead], "doc_id bigint"
    ).coalesce(1).write.mode("append").parquet(queue)
    with _pytest.raises(StreamingQueryException):
        maintain_takedowns_available_now(spark, queue, index_dir, ckpt)
    # index appears; the SAME queue files must now apply
    write_index_store(build_index(docs), index_dir)
    maintain_takedowns_available_now(spark, queue, index_dir, ckpt)
    want = sorted(
        map(
            tuple,
            build_index(docs.where(~F.col("doc_id").isin(dead))).collect(),
        )
    )
    assert sorted(map(tuple, read_index_store(spark, index_dir).collect())) == want


def test_log_histogram_guards(spark):
    """Out-of-domain values raise per row; colliding quantile labels
    raise at call time."""
    import pytest as _pytest

    from mapreduce_inverted_index_spark.operators.sketches import (
        log_histogram_quantiles,
        log_histogram_sketch,
    )

    big = spark.createDataFrame([("g", (1 << 62))], "grp string, v long")
    with _pytest.raises(Exception, match="rescale"):
        log_histogram_sketch(big, "grp", "v", subbins=8).collect()
    ok = spark.createDataFrame([("g", 7)], "grp string, v long")
    hist = log_histogram_sketch(ok, "grp", "v", subbins=8)
    with _pytest.raises(ValueError, match="collide"):
        log_histogram_quantiles(hist, "grp", qs=(0.99, 0.994))
