"""Custom Python DataSource: the reference's paginated category crawl
(S1, ``master/src/coordinator.py``'s page walker) re-expressed as a
first-class Spark connector via the Python DataSource API (Spark 4.x)
— the Spark-native answer to "my source isn't a file format".

The reference hand-rolled pagination: the master walked category
pages, handed page URLs to mappers over HTTP, and tracked a cursor of
seen pages. Here the SAME shape is a ``DataSource``:

  * **Batch**: ``partitions()`` plans one ``InputPartition`` per page
    (page = a row range of the snapshot), so Spark schedules pages
    exactly like the master scheduled page fetches — but with retry,
    locality, and speculation for free. ``read(partition)`` pulls
    only that page, and only the projected columns, through pyarrow
    (column pruning reaches the connector: Spark hands the pruned
    schema to ``reader()``).
  * **Streaming**: ``SimpleDataSourceStreamReader`` keeps the page
    CURSOR as the stream offset ({"page": n} — literally the
    reference's seen-page cursor, now checkpointed by Spark).
    Each micro-batch serves the pages that appeared since the last
    offset; replay between committed offsets is deterministic
    (``readBetweenOffsets``), which is what makes the source
    exactly-once under checkpoint recovery.

The "site" being crawled is the ``documents`` snapshot (fixtures are
static by design — TESTDATA.md S3). :class:`HttpCrawlSource` below is
the LIVE-HTTP face of the same connector: identical partition/offset
planning, but the listing walk and document fetches go over HTTP —
the reference's literal behavior (``master/src/master.py:48-86``
walks category pages following next-links; mappers fetch page content
in parallel, ``mapper/src/processor.py:135-161``).
"""

from __future__ import annotations

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    InputPartition,
    SimpleDataSourceStreamReader,
)

__all__ = [
    "CrawlSource",
    "HttpCrawlSource",
    "register_crawl_source",
    "read_crawl_site",
]

_FULL_SCHEMA = "doc_id long, source string, n_chars long"


class _PagePartition(InputPartition):
    def __init__(self, path: str, start: int, end: int):
        self.path = path
        self.start = start
        self.end = end


def _num_rows(path: str) -> int:
    import pyarrow.parquet as pq

    return pq.ParquetFile(path).metadata.num_rows


def _read_page(path: str, start: int, end: int, columns: list[str]):
    """Stream only the [start, end) rows: row groups wholly before the
    page are SKIPPED via footer metadata (never decoded), decoding
    stops at the first batch past the page end. Within the overlapping
    row groups the decode is batch-granular — exact page-restricted
    I/O needs page-aligned row groups, which is how a production
    snapshot would be written (row_group_size = page_size)."""
    import pyarrow.parquet as pq

    pf = pq.ParquetFile(path)
    pos = 0
    first_rg = 0
    # skip row groups entirely before the page (metadata only)
    while first_rg < pf.metadata.num_row_groups:
        n = pf.metadata.row_group(first_rg).num_rows
        if pos + n > start:
            break
        pos += n
        first_rg += 1
    for batch in pf.iter_batches(
        columns=columns, row_groups=range(first_rg, pf.metadata.num_row_groups)
    ):
        if pos >= end:
            break
        lo, hi = max(start - pos, 0), min(end - pos, len(batch))
        if lo < hi:
            sl = batch.slice(lo, hi - lo)
            yield from zip(*[c.to_pylist() for c in sl.columns])
        pos += len(batch)


class _CrawlBatchReader(DataSourceReader):
    def __init__(self, options: dict, schema_cols: list[str]):
        self.path = options["path"]
        self.page_size = int(options.get("page_size", "500"))
        self.cols = schema_cols

    def partitions(self):
        n = _num_rows(self.path)
        return [
            _PagePartition(self.path, s, min(s + self.page_size, n))
            for s in range(0, n, self.page_size)
        ]

    def read(self, part: _PagePartition):
        yield from _read_page(part.path, part.start, part.end, self.cols)


class _CrawlStreamReader(SimpleDataSourceStreamReader):
    """Page-cursor stream: offset = {"page": next unserved page}."""

    def __init__(self, options: dict, schema_cols: list[str]):
        self.path = options["path"]
        self.page_size = int(options.get("page_size", "500"))
        self.pages_per_batch = int(options.get("pages_per_batch", "1"))
        self.cols = schema_cols

    def initialOffset(self) -> dict:
        return {"page": 0}

    def _n_pages(self) -> int:
        n = _num_rows(self.path)
        return (n + self.page_size - 1) // self.page_size

    def read(self, start: dict):
        # The prefetch protocol needs the batch BOTH picklable (it is
        # cached and shipped) and an iterator (the no-progress path
        # probes it with next()): a materialized list_iterator is the
        # one shape satisfying both — a raw generator fails pickling,
        # a raw list fails the next() probe. Batches are at most
        # pages_per_batch pages, so materializing is bounded.
        n_rows = _num_rows(self.path)  # one footer read per trigger
        n_pages = (n_rows + self.page_size - 1) // self.page_size
        first = start["page"]
        last = min(first + self.pages_per_batch, n_pages)
        end_off = {"page": last}
        if last == first:
            return iter(()), end_off
        rows = list(
            _read_page(
                self.path,
                first * self.page_size,
                min(last * self.page_size, n_rows),
                self.cols,
            )
        )
        return iter(rows), end_off

    def readBetweenOffsets(self, start: dict, end: dict):
        # deterministic replay of a committed page range (recovery)
        return list(
            _read_page(
                self.path,
                start["page"] * self.page_size,
                min(end["page"] * self.page_size, _num_rows(self.path)),
                self.cols,
            )
        )

    def commit(self, end: dict) -> None:
        pass  # nothing to clean up; the snapshot is immutable


class CrawlSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "paged_crawl"

    def schema(self) -> str:
        return _FULL_SCHEMA

    def reader(self, schema) -> DataSourceReader:
        return _CrawlBatchReader(self.options, schema.fieldNames())

    def simpleStreamReader(self, schema) -> SimpleDataSourceStreamReader:
        return _CrawlStreamReader(self.options, schema.fieldNames())

    def writer(self, schema, overwrite: bool):
        return _CrawlPageWriter(self.options, overwrite)


def register_crawl_source(spark) -> None:
    """Idempotent registration (re-registering the same name is fine)."""
    spark.dataSource.register(CrawlSource)
    spark.dataSource.register(HttpCrawlSource)


# ------------------------------------------------------ live-HTTP face
# The reference's crawl is literally HTTP: the master walks paginated
# listing pages following next-links (master/src/master.py:48-86) and
# mappers fetch each document URL (mapper/src/processor.py:135-161).
# HttpCrawlSource is that protocol as a connector. The site contract
# (implemented by any paginated API; tests spin a stdlib http.server):
#
#   GET {base_url}/list/{n}  ->  {"urls": [...], "doc_id_start": k,
#                                 "next": true|false}
#   GET {doc url}            ->   the document text (2xx), or an error
#                                 status = failed fetch
#
# Planning splits exactly like the reference: the LISTING walk is
# metadata-light and runs on the driver (the master's role); the
# document fetches are the heavy part and run one InputPartition per
# listing page on executors (the mappers' role) — with Spark retry,
# speculation, and locality replacing the hand-rolled mapper registry.
# A failed fetch CONSUMES its doc_id and emits no row — the
# reference's "failed fetch consumes doc_id, emits no postings"
# semantics (mapper/src/processor.py:184-187).

_HTTP_SCHEMA = "doc_id long, url string, text string"


def _http_json(url: str) -> dict:
    import json
    from urllib.request import urlopen

    with urlopen(url, timeout=10.0) as resp:
        return json.loads(resp.read().decode("utf-8"))


def _http_text(url: str) -> str | None:
    """Fetch one document; None on any HTTP/connection error (the
    failed-fetch path — the doc_id is consumed, no row emitted)."""
    from urllib.error import HTTPError, URLError
    from urllib.request import urlopen

    try:
        with urlopen(url, timeout=10.0) as resp:
            return resp.read().decode("utf-8")
    except (HTTPError, URLError, TimeoutError):
        return None


def _walk_listing(
    base_url: str,
    start_page: int = 0,
    max_pages: int | None = None,
    first_body: dict | None = None,
):
    """Follow next-links from ``start_page``: yields
    ``(page_no, doc_id_start, urls)`` per listing page — the
    reference's category-page walk (``master/src/master.py:51-78``),
    minus the politeness sleep (tests own the server). ``first_body``
    lets a caller that already fetched ``start_page`` (the stream
    reader's exhaustion probe) hand over the parsed response instead
    of hitting the server twice for the same page."""
    page = start_page
    while max_pages is None or page < start_page + max_pages:
        if page == start_page and first_body is not None:
            body = first_body  # reuse the caller's probe response
        else:
            body = _http_json(f"{base_url}/list/{page}")
        yield page, int(body["doc_id_start"]), list(body["urls"])
        if not body.get("next"):
            return
        page += 1


class _UrlPagePartition(InputPartition):
    def __init__(self, doc_id_start: int, urls: list[str]):
        self.doc_id_start = doc_id_start
        self.urls = urls


class _HttpCrawlBatchReader(DataSourceReader):
    def __init__(self, options: dict, schema_cols: list[str]):
        self.base_url = options["base_url"].rstrip("/")
        self.cols = schema_cols

    def partitions(self):
        # driver-side listing walk (urls only — no document bytes),
        # one InputPartition per listing page; doc_id ranges come from
        # the server's cursor, the reference's doc_id_start handed to
        # each mapper (master/src/coordinator.py:57)
        return [
            _UrlPagePartition(start, urls)
            for _, start, urls in _walk_listing(self.base_url)
        ]

    def read(self, part: _UrlPagePartition):
        for j, url in enumerate(part.urls):
            text = _http_text(url)
            if text is None:
                continue  # failed fetch: doc_id consumed, no row
            row = {"doc_id": part.doc_id_start + j, "url": url, "text": text}
            yield tuple(row[c] for c in self.cols)


class _HttpCrawlStreamReader(SimpleDataSourceStreamReader):
    """Listing-page cursor over HTTP: offset = {"page": next unserved
    listing page} — the same checkpointed exactly-once walk as the
    parquet face, with fetches going over the wire. (The Simple
    stream API routes reads through the driver by design; batches are
    bounded by pages_per_batch listing pages.)"""

    def __init__(self, options: dict, schema_cols: list[str]):
        self.base_url = options["base_url"].rstrip("/")
        self.pages_per_batch = int(options.get("pages_per_batch", "1"))
        self.cols = schema_cols

    def initialOffset(self) -> dict:
        return {"page": 0}

    def _rows_for(
        self, start_page: int, max_pages: int, first_body: dict | None = None
    ):
        rows, last_page = [], start_page - 1
        for page, doc_start, urls in _walk_listing(
            self.base_url, start_page, max_pages, first_body=first_body
        ):
            last_page = page
            for j, url in enumerate(urls):
                text = _http_text(url)
                if text is None:
                    continue
                row = {"doc_id": doc_start + j, "url": url, "text": text}
                rows.append(tuple(row[c] for c in self.cols))
        return rows, last_page

    def read(self, start: dict):
        from urllib.error import HTTPError

        first = start["page"]
        # Exhaustion probe: ONLY a 404/410 on the FIRST listing fetch
        # means "no page `first` yet" — idle no-op, same offset. Every
        # other failure — 5xx, timeout, malformed JSON, a missing page
        # midway through the batch — PROPAGATES and fails the
        # micro-batch, so a broken site is never silently
        # indistinguishable from an exhausted one (the offset is
        # unchanged either way; a retry after the error loses
        # nothing).
        try:
            probe_body = _http_json(f"{self.base_url}/list/{first}")
        except HTTPError as e:
            if e.code in (404, 410):
                return iter(()), {"page": first}
            raise
        # the probe response IS page `first` — hand it to the walk so
        # each listing page is fetched exactly once per micro-batch
        rows, last_page = self._rows_for(
            first, self.pages_per_batch, first_body=probe_body
        )
        if last_page < first:
            return iter(()), {"page": first}
        return iter(rows), {"page": last_page + 1}

    def readBetweenOffsets(self, start: dict, end: dict):
        # deterministic replay of committed listing pages (recovery);
        # the site snapshot is immutable for the checkpoint's lifetime
        rows, _ = self._rows_for(start["page"], end["page"] - start["page"])
        return rows

    def commit(self, end: dict) -> None:
        pass


class HttpCrawlSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "http_crawl"

    def schema(self) -> str:
        return _HTTP_SCHEMA

    def reader(self, schema) -> DataSourceReader:
        return _HttpCrawlBatchReader(self.options, schema.fieldNames())

    def simpleStreamReader(self, schema) -> SimpleDataSourceStreamReader:
        return _HttpCrawlStreamReader(self.options, schema.fieldNames())


# ------------------------------------------------------- writer face
# The reference's K2 sink (final JSON index, reducer/src/processor.py)
# as the connector's write path — with the transactional two-phase
# protocol the reference's bare file write lacked: executors stage
# task-unique JSONL page files and return commit messages; the driver
# publishes an atomic MANIFEST naming exactly the committed pages
# (os.replace — readers never observe a partial site); abort removes
# staged files. A retried/speculated task stages a second file but
# only the winning attempt's message reaches commit(), so the
# manifest stays exactly-once — rename-based Hadoop committers pay a
# listing+rename per file for the same guarantee.

from pyspark.sql.datasource import DataSourceWriter, WriterCommitMessage


class _PageCommit(WriterCommitMessage):
    def __init__(self, file: str, n_rows: int):
        self.file = file
        self.n_rows = n_rows


class _CrawlPageWriter(DataSourceWriter):
    def __init__(self, options: dict, overwrite: bool):
        self.path = options["path"]
        self.overwrite = overwrite

    def write(self, rows) -> _PageCommit:
        import json
        import os
        import uuid

        from pyspark import TaskContext

        os.makedirs(f"{self.path}/_staging", exist_ok=True)
        tc = TaskContext.get()
        # attempt-unique name: a speculated/retried attempt writes its
        # own file; only the committed attempt's message is published
        fname = (
            f"_staging/page-{tc.partitionId() if tc else 0}"
            f"-{uuid.uuid4().hex}.jsonl"
        )
        n = 0
        with open(f"{self.path}/{fname}", "w") as f:
            for row in rows:
                f.write(json.dumps(row.asDict()) + "\n")
                n += 1
        return _PageCommit(fname, n)

    def commit(self, messages) -> None:
        import json
        import os

        manifest_path = f"{self.path}/_MANIFEST.json"
        # honor the save mode: append MERGES the previously published
        # manifest (a second job must not unpublish earlier pages);
        # overwrite retires the old pages before publishing
        pages = []
        if os.path.exists(manifest_path):
            with open(manifest_path) as f:
                old_pages = json.load(f)["pages"]
            if self.overwrite:
                for p in old_pages:
                    try:
                        os.remove(f"{self.path}/{p['file']}")
                    except FileNotFoundError:
                        pass
            else:
                pages.extend(old_pages)
        for m in messages:
            if m is None or m.n_rows == 0:
                continue
            final = m.file.replace("_staging/", "")
            os.replace(f"{self.path}/{m.file}", f"{self.path}/{final}")
            pages.append({"file": final, "n_rows": m.n_rows})
        tmp = f"{self.path}/_MANIFEST.tmp"
        with open(tmp, "w") as f:
            json.dump({"pages": pages}, f)
        os.replace(tmp, manifest_path)  # atomic publish

    def abort(self, messages) -> None:
        import os

        for m in messages:
            if m is not None:
                try:
                    os.remove(f"{self.path}/{m.file}")
                except FileNotFoundError:
                    pass


def read_crawl_site(spark, path: str):
    """Read back a published site: ONLY pages named by the manifest
    (staged/aborted leftovers are invisible — the reader-side half of
    the transactional contract)."""
    import json

    with open(f"{path}/_MANIFEST.json") as f:
        manifest = json.load(f)
    files = [f"{path}/{p['file']}" for p in manifest["pages"]]
    if not files:
        return spark.createDataFrame([], _FULL_SCHEMA)
    return spark.read.json(files)
