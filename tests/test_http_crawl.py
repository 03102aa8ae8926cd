"""Live-HTTP face of the crawl connector: a stdlib http.server plays
the paginated site (listing pages with next-links + document URLs —
the reference's literal protocol, master/src/master.py:48-86 and
mapper/src/processor.py:135-161), and the connector must:

1. batch-read it losslessly, one InputPartition per listing page,
   with doc_ids from the server's cursor;
2. consume a failed fetch's doc_id while emitting no row;
3. stream it with the listing-page cursor checkpointed exactly-once
   across restarts (the same walk contract as the parquet face).
"""

from __future__ import annotations

import json
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

import pytest

N_DOCS = 40
PAGE_SIZE = 7
BROKEN_DOC = 11  # this URL 404s: doc_id consumed, no row


def _doc_text(i: int) -> str:
    return f"document {i} body with some words"


class _SiteHandler(BaseHTTPRequestHandler):
    def log_message(self, *a):  # quiet
        pass

    def do_GET(self):
        if self.path.startswith("/list/"):
            page = int(self.path.rsplit("/", 1)[1])
            start = page * PAGE_SIZE
            if start >= N_DOCS:
                self.send_error(404)
                return
            host = self.headers["Host"]
            urls = [
                f"http://{host}/doc/{i}"
                for i in range(start, min(start + PAGE_SIZE, N_DOCS))
            ]
            body = json.dumps(
                {
                    "urls": urls,
                    "doc_id_start": start,
                    "next": start + PAGE_SIZE < N_DOCS,
                }
            ).encode()
            self.send_response(200)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)
        elif self.path.startswith("/doc/"):
            i = int(self.path.rsplit("/", 1)[1])
            if i == BROKEN_DOC:
                self.send_error(503)
                return
            body = _doc_text(i).encode()
            self.send_response(200)
            self.send_header("Content-Type", "text/plain")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)
        else:
            self.send_error(404)


@pytest.fixture(scope="module")
def site_url():
    srv = ThreadingHTTPServer(("127.0.0.1", 0), _SiteHandler)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield f"http://127.0.0.1:{srv.server_address[1]}"
    srv.shutdown()


def _expected_rows():
    return {
        (i, _doc_text(i))
        for i in range(N_DOCS)
        if i != BROKEN_DOC
    }


def test_http_crawl_batch_reads_site_and_partitions_by_page(spark, site_url):
    from mapreduce_inverted_index_spark.sources.crawl_source import (
        register_crawl_source,
    )

    register_crawl_source(spark)
    df = (
        spark.read.format("http_crawl").option("base_url", site_url).load()
    )
    rows = df.collect()
    assert {(r.doc_id, r.text) for r in rows} == _expected_rows()
    # failed fetch consumed doc_id 11: absent, neighbors unshifted
    ids = {r.doc_id for r in rows}
    assert BROKEN_DOC not in ids and BROKEN_DOC + 1 in ids
    assert all(r.url.endswith(f"/doc/{r.doc_id}") for r in rows)
    assert df.rdd.getNumPartitions() == (N_DOCS + PAGE_SIZE - 1) // PAGE_SIZE, (
        "one InputPartition per listing page"
    )


def test_http_crawl_stream_cursor_exactly_once(spark, site_url, tmp_path):
    from mapreduce_inverted_index_spark.sources.crawl_source import (
        register_crawl_source,
    )

    register_crawl_source(spark)
    ckpt = str(tmp_path / "ckpt")
    sink = str(tmp_path / "sink")
    totals = []
    for _ in range(4):
        sdf = (
            spark.readStream.format("http_crawl")
            .option("base_url", site_url)
            .option("pages_per_batch", "2")
            .load()
        )
        q = (
            sdf.writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        totals.append(spark.read.parquet(sink).count())

    got = spark.read.parquet(sink)
    n = len(_expected_rows())
    assert totals[-1] == n and totals[-2] == n, (
        "walk must exhaust the site, then idle"
    )
    assert got.count() == n
    assert got.select("doc_id").distinct().count() == n, (
        "each listing page served exactly once across checkpointed runs"
    )
    assert {(r.doc_id, r.text) for r in got.collect()} == _expected_rows()
    assert totals[0] < n, "a single bounded run must NOT consume everything"


def test_http_crawl_to_reference_artifact_end_to_end(spark, site_url, tmp_path):
    """The reference's WHOLE pipeline, over the wire: crawl the HTTP
    site (S1/S2), build the inverted index (P1-P6, A1-A3), write the
    reference-shape single-JSON artifact (K2) — and the artifact's
    postings must match an independently computed expectation,
    including the failed fetch consuming its doc_id."""
    import json

    from mapreduce_inverted_index_spark.sources.crawl_source import (
        register_crawl_source,
    )
    from mapreduce_inverted_index_spark.sources.formats import (
        write_final_index_json,
    )

    register_crawl_source(spark)
    crawled = (
        spark.read.format("http_crawl").option("base_url", site_url).load()
    )
    out = write_final_index_json(
        crawled.withColumnRenamed("url", "source"),
        str(tmp_path),
        creation_time="2026-01-01T00:00:00",
        timestamp=1,
    )
    with open(out) as f:
        artifact = json.load(f)

    # expectation from the site definition: every doc is
    # "document {i} body with some words" -> term "document" maps to
    # all fetched doc_ids (stopwords among {body,with,some} drop out)
    fetched = [i for i in range(N_DOCS) if i != BROKEN_DOC]
    assert artifact["metadata"]["num_terms"] == len(artifact["index"])
    postings = artifact["index"]["document"]
    assert [o["doc_id"] for o in postings] == fetched
    assert all(
        o["url"].endswith(f"/doc/{o['doc_id']}") for o in postings
    )
    # per-doc numeral tokens are stripped by the [^a-z\s] filter, so
    # no doc-unique terms survive: the whole index is the shared words
    from mapreduce_inverted_index_spark.functions.stopwords import STOPWORDS

    expect_terms = sorted(
        t for t in "document body with some words".split() if t not in STOPWORDS
    )
    assert sorted(artifact["index"]) == expect_terms


def test_http_crawl_stream_propagates_server_errors(spark, tmp_path):
    """A broken site must FAIL the micro-batch, not masquerade as an
    exhausted one: listing 5xx errors propagate (only a 404/410 on
    the first listing fetch of a trigger is the idle no-op)."""
    srv_state = {"fail": False}

    class _FlakyHandler(_SiteHandler):
        def do_GET(self):
            if srv_state["fail"] and self.path.startswith("/list/"):
                self.send_error(500)
                return
            super().do_GET()

    srv = ThreadingHTTPServer(("127.0.0.1", 0), _FlakyHandler)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        url = f"http://127.0.0.1:{srv.server_address[1]}"
        from pyspark.errors.exceptions.captured import StreamingQueryException

        from mapreduce_inverted_index_spark.sources.crawl_source import (
            register_crawl_source,
        )

        register_crawl_source(spark)

        def run_once():
            q = (
                spark.readStream.format("http_crawl")
                .option("base_url", url)
                .option("pages_per_batch", "2")
                .load()
                .writeStream.format("parquet")
                .option("path", str(tmp_path / "sink"))
                .option("checkpointLocation", str(tmp_path / "ckpt"))
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()

        run_once()  # healthy: first pages land
        n_before = spark.read.parquet(str(tmp_path / "sink")).count()
        assert n_before > 0

        srv_state["fail"] = True
        with pytest.raises(StreamingQueryException):
            run_once()

        # recovery: site healthy again, the walk resumes from the
        # checkpointed cursor with nothing lost or duplicated
        srv_state["fail"] = False
        for _ in range(3):
            run_once()
        got = spark.read.parquet(str(tmp_path / "sink"))
        assert got.count() == len(_expected_rows())
        assert got.select("doc_id").distinct().count() == len(_expected_rows())
    finally:
        srv.shutdown()
