"""Benchmark of the index engine on a seeded Zipf corpus.

    python3 perfbench/run.py                  # every workload, seed 1
    python3 perfbench/run.py --workload short --seed 7 --seconds 20 --trace 0

Every run is the life of one index, in three timed phases after the
set-up (the session start, ``setup_s``), with one client in a closed
loop (the next call starts when the previous one returned). The
workloads differ in the corpus profile (``WORKLOADS``: the median
document length), so each reports every end-to-end metric:

* build -- the LLM-pipeline batch job, once, on the ``CORPUS_DOCS``-doc
  corpus in a fresh session: exact and MinHash dedup, ``build_index``
  into ``write_index_store``, and ``write_doc_tables``. No query work.
* query -- reads of the store and doc tables the build wrote: 70%
  ``term_lookup_store``, 25% BM25 top-10 over the doc tables, 5%
  ``phrase_query`` on bigrams of the corpus, terms drawn by Zipf weight.
* ingest -- writes beside reads on the same store: each cycle merges a
  fresh batch, deletes a mix of built and ingested ids, then looks up
  terms of both.

Every result is checked against a pure-Python truth (``gen.py``); a
failed or mismatched call counts in ``failed``. The last line of stdout
is the result object; the line before it is a report with every
per-op-type timing and its sample count, the error rate, the store size
after each phase and the process's age at each phase's end.

``--trace 1`` runs the workload with every call into the package
wrapped in a span, and prints the per-layer metrics (``LAYERS``) with
the tracing overhead against an untraced run of the same workload: the
same seed's if it ran in this checkout, else the newest, else one run
first in a child process. The spans go to ``.perfbench_work/traces/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from collections import defaultdict

# Corpus profile of each workload: median tokens per document. ``web``
# is page-length text, where tokenize, shuffle and write volume weigh
# most; ``short`` is chat-turn-length text, where per-call and per-row
# fixed costs weigh most.
WORKLOADS = {"web": 200, "short": 40}

# Per-layer metric -> the end-to-end metrics it should move, on every
# workload.
LAYERS = {
    "session.start_s": "setup_s",
    "sources.scan_s": "build_docs_per_s",
    "sources.input_bytes": "build_docs_per_s",
    "text.tokenize_s": "build_docs_per_s, query_qps (phrase queries re-tokenize)",
    "text.tokens_per_s": "build_docs_per_s, query_qps (phrase queries re-tokenize)",
    "dedup.exact_s": "build_docs_per_s",
    "dedup.minhash_sig_s": "build_docs_per_s",
    "dedup.candidate_pairs": "build_docs_per_s",
    "dedup.verified_pairs": "build_docs_per_s, dedup_recall",
    "dedup.lsh_precision": "build_docs_per_s",
    "index.build_s": "build_docs_per_s",
    "index.shuffle_write_bytes": "build_docs_per_s",
    "index.spill_bytes": "build_docs_per_s",
    "index.store_write_s": "build_docs_per_s",
    "index.doc_tables_write_s": "build_docs_per_s",
    "index.merge_s": "ingest_docs_per_s",
    "index.delete_s": "ingest_docs_per_s",
    "store.lease_ms": "ingest_docs_per_s",
    "store.swap_ms": "ingest_docs_per_s",
    "store.manifest_refresh_ms": "ingest_docs_per_s",
    "store.open_snapshot_ms": "lookup_p50_ms",
    "store.files": "lookup_p50_ms, ingest_store_bytes_per_input_byte",
    "store.bytes": "store_bytes_per_input_byte, ingest_store_bytes_per_input_byte",
    "store.files_read_per_lookup": "lookup_p50_ms",
    **{f"query.{k}.{m}": "lookup_p50_ms, query_qps" if k == "lookup" else "query_qps"
       for k in ("lookup", "bm25", "phrase")
       for m in ("plan_ms", "exec_ms", "jobs_per_op", "tasks_per_op")},
    "jvm.peak_rss_mb": "none: the driver JVM's memory high-water mark",
    "spark.gc_ms": "every end-to-end timing",
    "spark.executor_run_ms": "every end-to-end timing",
    "trace.overhead_pct": "none: the cost of tracing itself",
}

CORPUS_DOCS = 800  # the corpus the build phase indexes
BATCH_DOCS = 300  # ingest phase: docs merged per cycle
DELETE_BASE = 40  # built ids deleted per cycle
DELETE_NEW = 10  # ingested ids deleted per cycle
CYCLE_LOOKUPS = 2  # lookups per cycle: new-batch terms, then deleted docs' terms
CHECK_TERMS = 12  # terms looked up in the built store
# query phase schedule: each block of 20 ops is one phrase query, then
# 14 lookups with a BM25 query as every fourth op from the second, so a
# short phase still gets every op type early
QUERY_BLOCK = ["phrase"] + ["bm25" if i % 4 == 1 else "lookup" for i in range(19)]
SHARE = {"query": 0.4, "ingest": 0.6}  # of --seconds; the build is one call
MINHASH_THRESHOLD = 0.35  # dedup.minhash_near_dup default
# Each end-to-end figure is taken over the first calls of its phase, a
# count every phase runs whatever the time: later calls in a run are
# faster as the JVM warms, so a figure over however many calls fit would
# shift with the host's speed. Every call is in the report.
QUERY_OPS = 12  # one phrase, three BM25 and eight lookup queries
INGEST_CYCLES = 2

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
REPORTS = os.path.join(WORK_ROOT, "reports")  # untraced runs' reports, for --trace 1
T0 = time.perf_counter()


def _host_env(work: str) -> None:
    """Pin the engine to this host and keep every file it writes
    inside ``work``: bucketed ``saveAsTable`` writes would otherwise
    land in the cwd's ``spark-warehouse/``, and the 16g default heap is
    more than a small host has."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        total_kib = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    heap_gib = max(1, min(3, total_kib // (4 * 1024 * 1024)))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{heap_gib}g"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    for d in ("local", "tmp", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)


def _pct(xs: list[float], p: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(xs)
    return s[max(0, -(-len(s) * p // 100) - 1)]


def _timing(xs: list[float]) -> dict:
    """Median plus the highest of p99/p95/p90/p75 with at least ten
    samples beyond it, in ms, with the sample count and every sample in
    call order."""
    out: dict = {"n": len(xs), "ms": [round(x * 1e3) for x in xs]}
    if not xs:
        return out
    out["p50_ms"] = statistics.median(xs) * 1e3
    for p in (99, 95, 90, 75):
        if len(xs) * (100 - p) / 100 >= 10:
            out[f"p{p}_ms"] = _pct(xs, p) * 1e3
            break
    return out


def _dir_stats(path: str) -> dict:
    """Data files and bytes on disk under ``path``."""
    files = size = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            size += os.path.getsize(os.path.join(dirpath, n))
            if not n.startswith(("_", ".")):
                files += 1
    return {"files": files, "bytes": size}


class Bench:
    """One run of one workload: the session, the inputs, and every
    sample and counter the run reports."""

    def __init__(self, args, work: str):
        import gen
        import spans as tr

        self.args = args
        self.work = work
        self.gen = gen
        self.tr = tr.Tracer(args.workload)
        if args.trace:
            tr.patch_store(self.tr)
        self.cache = os.path.join(WORK_ROOT, "cache")
        self.median_len = WORKLOADS[args.workload]
        self.corpus = gen.load_shard(args.seed, 0, CORPUS_DOCS, self.cache, self.median_len)
        self.lat: dict[str, list[float]] = defaultdict(list)
        self.warm_lat: dict[str, list[float]] = defaultdict(list)
        self.attempted = 0
        self.failed = 0
        self.op_id = 0
        self.setup_s = 0.0
        self.extra: dict = {}
        self.layers: dict = {}
        self.phases: dict[str, float] = {}
        self.phase("inputs_loaded")
        self._start_session()
        self.phase("session_started")

    def phase(self, name: str) -> None:
        """Note the process's age at the end of a phase, for the report."""
        self.phases[name] = round(time.perf_counter() - T0, 2)

    # -- session -------------------------------------------------------

    def _start_session(self) -> None:
        from mapreduce_inverted_index_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(
            app_name=f"perfbench-{self.args.workload}",
            extra_conf={
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                "spark.local.dir": os.path.join(self.work, "local"),
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(self.work, 'tmp')}",
                "spark.ui.showConsoleProgress": "false",
                # the traced run reads its counters from the UI's REST
                # endpoint, and keeps every job for that bulk read; the
                # untraced run starts no UI threads
                "spark.ui.enabled": "true" if self.args.trace else "false",
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
                "spark.sql.ui.retainedExecutions": "100000",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.spark.range(1).collect()
        self.session_s = time.perf_counter() - t0
        self.setup_s = self.session_s
        self._gateway = self.spark.sparkContext._gateway
        self.jvm_pid = int(self.spark._jvm.java.lang.ProcessHandle.current().pid())
        if self.args.trace:
            self.tr.attach(self.spark.sparkContext)

    def close(self) -> None:
        """Stop Spark and wait for the JVM to exit."""
        try:
            self.spark.stop()
        finally:
            proc = getattr(self._gateway, "proc", None)
            try:
                self._gateway.shutdown()
            except Exception:  # the JVM may already be gone
                pass
            if proc is not None:
                if proc.stdin:
                    proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()

    def peak_rss_mb(self) -> float:
        with open(f"/proc/{self.jvm_pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
        raise RuntimeError("driver JVM has no VmHWM")

    # -- ops -----------------------------------------------------------

    def op(self, kind: str, fn, check=None, measured: bool = True):
        """Run one closed-loop call; time it, then check its output.
        Unmeasured (warm-up) calls are neither timed nor checked.
        Returns ``(output, seconds)``, or None if the call raised."""
        self.op_id += 1
        t0 = time.perf_counter()
        try:
            with self.tr.span(f"op.{kind}", op=self.op_id):
                out = fn()
        except Exception:
            traceback.print_exc(file=sys.stderr)
            if measured:
                self.attempted += 1
                self.failed += 1
            return None
        dt = time.perf_counter() - t0
        if not measured:
            self.warm_lat[kind].append(dt)
        if measured:
            self.attempted += 1
            self.lat[kind].append(dt)
            if check is not None:
                problem = check(out)
                if problem:
                    self.failed += 1
                    print(f"check failed: {kind}: {problem}", file=sys.stderr)
        return out, dt

    def lookup(self, store: str, terms: list[str], postings) -> tuple:
        """A ``term_lookup_store`` call and its check against
        ``postings`` (term -> doc ids)."""
        from mapreduce_inverted_index_spark.operators import inverted_index as ii

        def run():
            with self.tr.span("query.lookup.plan"):
                df = ii.term_lookup_store(self.spark, store, terms)
            with self.tr.span("query.lookup.exec"):
                return df.collect()

        def check(rows):
            got = {r["term"]: (list(r["postings"]), r["df"]) for r in rows}
            want = {}
            for t in terms:
                p = sorted(postings.get(t, ()))
                if p:
                    want[t] = (p, len(p))
            return None if got == want else f"terms {terms}"

        return run, check

    def measured_loop(self, name: str, seconds: float, step, min_steps: int = 1) -> None:
        """Call ``step()`` for ``seconds`` and at least ``min_steps``
        times, tracing every call in the traced run. A step past the
        minimum starts only if, at the median step time so far, at least
        half of it fits before the deadline."""
        self.phase(f"{name}_warmed_up")
        self.tr.enabled = bool(self.args.trace)
        t0 = time.perf_counter()
        steps: list[float] = []
        while len(steps) < min_steps or time.perf_counter() - t0 + statistics.median(steps) / 2 < seconds:
            t1 = time.perf_counter()
            step()
            steps.append(time.perf_counter() - t1)
        self.tr.enabled = False
        self.phase(f"{name}_measured")

    # -- result ----------------------------------------------------------

    def report(self, e2e: dict) -> dict:
        return {
            "workload": self.args.workload,
            "seed": self.args.seed,
            "median_doc_tokens": self.median_len,
            "docs": len(self.corpus.docs),
            "error_rate": self.failed / max(1, self.attempted),
            "attempted": self.attempted,
            "failed": self.failed,
            **e2e,
            "ops": {k: _timing(v) for k, v in sorted(self.lat.items())},
            "warmup_ms": {k: [round(x * 1e3) for x in v] for k, v in sorted(self.warm_lat.items())},
            **self.extra,
            "phases_s": self.phases,
        }


# -- workloads --------------------------------------------------------------


def run_workload(b: Bench) -> dict:
    """The build, query and ingest phases. Returns every end-to-end
    metric."""
    e2e = {"setup_s": b.setup_s}
    store, tables, built = build_phase(b)
    e2e.update(built)
    e2e.update(query_phase(b, store, tables, SHARE["query"] * b.args.seconds))
    e2e.update(ingest_phase(b, store, SHARE["ingest"] * b.args.seconds))
    # every lookup of the serving phases, on the built and the ingested store
    lookups = (b.lat["lookup"][:QUERY_BLOCK[:QUERY_OPS].count("lookup")]
               + b.lat["ingest_lookup"][:INGEST_CYCLES * CYCLE_LOOKUPS])
    e2e["lookup_p50_ms"] = statistics.median(lookups) * 1e3
    b.extra["peak_rss_mb"] = b.peak_rss_mb()
    if b.args.trace:
        trace_common(b, store)
    return e2e


def build_pipeline(b: Bench, files: list[str], out: str, prefix: str):
    """The batch job on the parquet ``files``: exact and MinHash dedup,
    then the index store at ``out/store`` and the doc tables under
    ``out/doc``. Returns the duplicate groups, the near-duplicate pairs
    and the doc table names."""
    from pyspark.sql import functions as F

    from mapreduce_inverted_index_spark.operators import dedup
    from mapreduce_inverted_index_spark.operators import inverted_index as ii

    docs = b.spark.read.parquet(*files)
    with b.tr.span("dedup.exact"):
        exact = dedup.exact_dedup(docs).where(F.col("n_copies") > 1).collect()
    with b.tr.span("dedup.minhash"):
        pairs = dedup.minhash_near_dup(docs).collect()
    # minhash_near_dup persists its shingle and band tables
    b.spark.catalog.clearCache()
    with b.tr.span("index.store_write"):
        ii.write_index_store(ii.build_index(docs), f"{out}/store")
    with b.tr.span("index.doc_tables_write"):
        tables = ii.write_doc_tables(docs, f"{out}/doc", prefix=prefix)
    return exact, pairs, tables


def build_phase(b: Bench) -> tuple[str, tuple[str, str], dict]:
    """One build of the whole corpus, checked against the truth. Returns
    the store, the doc table names and the build's metrics."""
    import numpy as np

    from mapreduce_inverted_index_spark.operators import inverted_index as ii

    gen = b.gen
    c = b.corpus
    out = os.path.join(b.work, "index")
    store = f"{out}/store"
    b.phase("build_started")
    b.tr.enabled = bool(b.args.trace)
    ran = b.op("build", lambda: build_pipeline(b, c.files, out, "corpus"))
    b.tr.enabled = False
    b.phase("build_measured")
    if ran is None:
        raise RuntimeError("the build failed; nothing to serve")
    exact, pairs, tables = ran[0]

    def check() -> str | None:
        if {(r["doc_id"], r["n_copies"]) for r in exact} != {(g[0], len(g)) for g in c.exact_groups}:
            return "exact_dedup groups differ from truth"
        text = dict(c.docs)
        for r in pairs:
            a, z = gen.shingles(text[r["doc_a"]]), gen.shingles(text[r["doc_b"]])
            j = gen.round_half_up(len(a & z) / len(a | z), 6)
            if j != r["jaccard"] or j < MINHASH_THRESHOLD:
                return f"minhash pair {r['doc_a']},{r['doc_b']}: jaccard {r['jaccard']} vs {j}"
        # sampled build_index terms, head and tail, in the store
        rng = np.random.default_rng([b.args.seed, 3])
        tail = sorted(c.postings)
        terms = list(dict.fromkeys(
            gen.TermSampler(rng, c.postings).draw(CHECK_TERMS // 3)
            + [tail[int(i)] for i in rng.integers(0, len(tail), CHECK_TERMS - CHECK_TERMS // 3)]))
        rows = ii.term_lookup_store(b.spark, store, terms).collect()
        if {r["term"]: list(r["postings"]) for r in rows} != {t: c.postings[t] for t in terms}:
            return f"store postings differ from truth on {terms}"
        return None

    problem = check()
    if problem:
        b.failed += 1
        print(f"check failed: build: {problem}", file=sys.stderr)
    found = len(set(c.near_pairs) & {(r["doc_a"], r["doc_b"]) for r in pairs})
    stats = _dir_stats(store)
    b.extra.update({
        "dedup_planted_pairs": len(c.near_pairs),
        "dedup_verified_pairs": len(pairs),
        "store_after_build": stats,
    })
    if b.args.trace:
        trace_build(b, len(pairs))
    return store, tables, {
        "build_docs_per_s": len(c.docs) / b.lat["build"][0],
        "dedup_recall": found / len(c.near_pairs),
        "store_bytes_per_input_byte": stats["bytes"] / c.input_bytes,
    }


def query_phase(b: Bench, store: str, tables: tuple[str, str], seconds: float) -> dict:
    import numpy as np

    from mapreduce_inverted_index_spark.operators import term_queries as tq

    c = b.corpus
    gen = b.gen
    spark = b.spark
    tf_name, dl_name = tables
    docs = spark.read.parquet(*c.files)
    dl = c.dl
    rng = np.random.default_rng([b.args.seed, 2])
    sampler = gen.TermSampler(rng, c.postings)
    phrases = gen.sample_phrases(rng, c.docs, 32)
    phrase_hits = gen.phrase_truth(c.docs, phrases)

    def bm25(terms):
        def run():
            with b.tr.span("query.bm25.plan"):
                df = tq.bm25_rank(None, terms, tf=spark.table(tf_name), dl=spark.table(dl_name))
            with b.tr.span("query.bm25.exec"):
                return df.collect()

        def check(rows):
            ranked = gen.bm25_truth(terms, c.tf, dl)
            exact = dict(ranked)
            want = [s for _, s in ranked[:10]]
            got = [(r["doc_id"], r["bm25"]) for r in rows]
            if len(got) != len(want):
                return f"{terms}: {len(got)} rows, want {len(want)}"
            for (d, s), w in zip(got, want):
                # same scores in the same order; equal scores may swap
                if abs(s - w) > 1.5e-6 or abs(exact.get(d, -1.0) - s) > 1.5e-6:
                    return f"{terms}: doc {d} score {s}, want {w}"
            return None

        return run, check

    def phrase(p):
        def run():
            with b.tr.span("query.phrase.plan"):
                df = tq.phrase_query(docs, list(p))
            with b.tr.span("query.phrase.exec"):
                return df.collect()

        def check(rows):
            got = {r["doc_id"]: r["n_occurrences"] for r in rows}
            return None if got == phrase_hits[p] else f"phrase {p}"

        return run, check

    def make(kind: str):
        if kind == "lookup":
            return b.lookup(store, sampler.draw(int(rng.integers(1, 4))), c.postings)
        if kind == "bm25":
            return bm25(sampler.draw(int(rng.integers(2, 5))))
        return phrase(phrases[int(rng.integers(0, len(phrases)))])

    # warm-up, not timed, not checked: the lookup path is still being
    # compiled when the build ends, and the first call of a kind is slow
    for kind in ("lookup", "bm25", "lookup", "phrase", "lookup"):
        b.op(kind, make(kind)[0], measured=False)

    op_s: list[float] = []  # latencies of the measured queries that ran, in call order
    n_ops = 0

    def step():
        nonlocal n_ops
        kind = QUERY_BLOCK[n_ops % len(QUERY_BLOCK)]
        n_ops += 1
        ran = b.op(kind, *make(kind))
        if ran is not None:
            op_s.append(ran[1])

    b.measured_loop("query", seconds, step, QUERY_OPS)
    first = op_s[:QUERY_OPS]
    return {"query_qps": len(first) / sum(first)}


def ingest_phase(b: Bench, store: str, seconds: float) -> dict:
    import numpy as np
    from pyspark.sql import functions as F

    from mapreduce_inverted_index_spark.operators import inverted_index as ii

    c = b.corpus
    gen = b.gen
    spark = b.spark
    rng = np.random.default_rng([b.args.seed, 4])
    # live truth: term -> doc ids, doc id -> (terms, text bytes)
    postings = {t: set(p) for t, p in c.postings.items()}
    live: dict[int, tuple[list[str], int]] = {}
    for d, text in c.docs:
        live[d] = (list(c.tf.get(d, {})), len(text.encode()))
    base_ids = sorted(live)
    ingested: list[int] = []
    next_id = max(base_ids) + 1
    cycle = 0
    cycle_s: list[float] = []  # measured cycles' merge + delete + lookup time

    def add(batch):
        for d, text in batch:
            terms = gen.python_terms(text)
            live[d] = (terms, len(text.encode()))
            for t in terms:
                postings.setdefault(t, set()).add(d)

    def remove(ids):
        for d in ids:
            for t in live.pop(d)[0]:
                postings[t].discard(d)

    def run_cycle(measured: bool, n_batch: int, n_base: int, n_new: int, n_lookups: int):
        nonlocal next_id, cycle
        cycle += 1
        batch = gen.ingest_batch(b.args.seed, cycle, next_id, n_batch, b.median_len)
        next_id += n_batch
        batch_dir = os.path.join(b.work, f"batch-{cycle}")
        gen.write_docs(batch, batch_dir, 1)
        live_base = [d for d in base_ids if d in live]
        dead = [int(d) for d in rng.choice(live_base, n_base, replace=False)]
        old = [d for d in ingested if d in live]
        if old:
            dead += [int(d) for d in rng.choice(old, min(n_new, len(old)), replace=False)]
        dead_terms = [t for d in dead for t in live[d][0]]
        new_terms = [t for _, text in batch for t in gen.python_terms(text)]
        spent = 0.0

        def merge():
            with b.tr.span("index.merge"):
                delta = ii.build_index(spark.read.parquet(batch_dir))
                return ii.merge_into_index_store(spark, store, delta)

        ran = b.op("merge", merge, measured=measured)
        if ran is None:
            raise RuntimeError("merge failed; the truth no longer matches the store")
        spent += ran[1]
        add(batch)
        ingested.extend(d for d, _ in batch)

        def delete():
            with b.tr.span("index.delete"):
                return ii.delete_from_index_store(spark, store, dead)

        ran = b.op("delete", delete, measured=measured)
        if ran is None:
            raise RuntimeError("delete failed; the truth no longer matches the store")
        spent += ran[1]
        remove(dead)
        # half the lookups hit the new batch's terms, half the terms of
        # the docs just deleted: new ids must show, dead ids must not
        for i in range(n_lookups):
            pool = new_terms if i % 2 == 0 else dead_terms
            k = int(rng.integers(1, 4))
            terms = list(dict.fromkeys(pool[int(j)] for j in rng.integers(0, len(pool), k)))
            run, check = b.lookup(store, terms, postings)
            ran = b.op("ingest_lookup", run, check if measured else None, measured=measured)
            spent += ran[1] if ran else 0.0
        shutil.rmtree(batch_dir, ignore_errors=True)
        if measured:
            cycle_s.append(spent)

    run_cycle(False, 50, 5, 0, 0)  # warm-up: small, not timed, not checked

    b.measured_loop("ingest", seconds, lambda: run_cycle(True, BATCH_DOCS, DELETE_BASE, DELETE_NEW, CYCLE_LOOKUPS),
                    INGEST_CYCLES)

    # final check: the whole surviving index, on sampled terms
    sample = list(dict.fromkeys(
        [t for d in rng.choice(sorted(live), 200) for t in live[int(d)][0][:3]]
        + [str(t) for t in rng.choice(sorted(postings), 300)]
    ))
    rows = ii.read_index_store(spark, store).where(F.col("term").isin(sample)).collect()
    got = {r["term"]: list(r["postings"]) for r in rows}
    want = {t: sorted(postings[t]) for t in sample if postings.get(t)}
    b.attempted += 1
    if got != want:
        b.failed += 1
        print("check failed: read_index_store differs from the surviving corpus", file=sys.stderr)
    stats = _dir_stats(store)
    b.extra["store_after_ingest"] = stats
    return {
        "ingest_docs_per_s": BATCH_DOCS * INGEST_CYCLES / sum(cycle_s[:INGEST_CYCLES]),
        "ingest_store_bytes_per_input_byte": stats["bytes"] / sum(n for _, n in live.values()),
    }


# -- traced-run extras -------------------------------------------------------


def _noop(df, reps: int = 3) -> float:
    """Fastest of ``reps`` writes of ``df`` to the noop sink, in
    seconds: the work is fixed, so noise only adds to it."""
    ts = []
    for _ in range(reps):
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        ts.append(time.perf_counter() - t0)
    return min(ts)


def trace_build(b: Bench, verified_pairs: int) -> None:
    """Layer probes only the traced run pays, on the corpus: scan,
    tokenize, index build and signature cost as noop sinks, and the LSH
    candidate count the operator does not expose. ``verified_pairs`` is
    what the build's ``minhash_near_dup`` kept."""
    from pyspark.sql import functions as F

    from mapreduce_inverted_index_spark.operators import dedup
    from mapreduce_inverted_index_spark.operators import inverted_index as ii

    docs = b.spark.read.parquet(*b.corpus.files)
    scan = _noop(docs)
    # tokenize four copies of the corpus, so its time stands clear of
    # the scan's noise even on short documents
    four = docs.unionByName(docs).unionByName(docs).unionByName(docs)
    tok = (_noop(ii.doc_terms(four), reps=5) - _noop(four, reps=5)) / 4
    bands = dedup.band_table(dedup.minhash_signatures(docs)).persist()
    sig = _noop(bands, reps=1)
    cands = (bands.alias("l").join(bands.alias("r"), ["band", "key"])
             .where(F.col("l.doc_id") < F.col("r.doc_id"))
             .select("l.doc_id", "r.doc_id").distinct().count())
    bands.unpersist()
    b.layers.update({
        "sources.scan_s": scan,
        "dedup.minhash_sig_s": sig,
        "dedup.candidate_pairs": cands,
        "dedup.verified_pairs": verified_pairs,
        "dedup.lsh_precision": verified_pairs / cands,
        "index.build_s": _noop(ii.build_index(docs)),
    })
    if tok > 0:
        b.layers["text.tokenize_s"] = tok
        b.layers["text.tokens_per_s"] = b.corpus.raw_tokens / tok
    else:
        b.extra.setdefault("dropped", {}).update(
            dict.fromkeys(("text.tokenize_s", "text.tokens_per_s"),
                          "tokenize time under the noise of the scan it is measured against"))


def trace_common(b: Bench, store: str) -> None:
    """Per-layer figures from the measured loop's spans and from the
    Spark counters of the job groups those spans set. A figure whose
    spans never ran on this workload is left out, with the reason."""
    import spans as tr

    counters = tr.SparkCounters(b.spark.sparkContext).by_group()
    spans = b.tr.spans
    per_span = {s.id: counters.get(f"span-{s.id}", {}) for s in spans}
    by_op = defaultdict(lambda: defaultdict(float))
    for s in spans:
        for k, v in per_span[s.id].items():
            by_op[s.op][k] += v
    L = b.layers
    dropped = b.extra.setdefault("dropped", {})

    def named(prefix: str) -> list:
        return [s for s in spans if s.name == prefix or s.name.startswith(prefix + ".")]

    def put(metric: str, xs: list, value) -> None:
        if xs:
            L[metric] = value(xs)
        else:
            dropped[metric] = "the workload makes no such call"

    def mean_s(xs):
        return sum(s.end - s.start for s in xs) / len(xs)

    def per_op(key: str):
        return lambda xs: sum(by_op[s.op].get(key, 0.0) for s in xs) / len(xs)

    def per_span_mean(key: str):
        return lambda xs: sum(per_span[s.id].get(key, 0.0) for s in xs) / len(xs)

    ops = [s for s in spans if s.name.startswith("op.")]
    builds = named("index.store_write") + named("index.doc_tables_write")
    L["session.start_s"] = b.session_s
    L["jvm.peak_rss_mb"] = b.extra["peak_rss_mb"]
    put("sources.input_bytes", named("op.build"), per_op("input_bytes"))
    put("dedup.exact_s", named("dedup.exact"), mean_s)
    put("index.shuffle_write_bytes", builds, per_span_mean("shuffle_write_bytes"))
    put("index.spill_bytes", builds, per_span_mean("spill_bytes"))
    put("index.store_write_s", named("index.store_write"), mean_s)
    put("index.doc_tables_write_s", named("index.doc_tables_write"), mean_s)
    put("index.merge_s", named("index.merge"), mean_s)
    put("index.delete_s", named("index.delete"), mean_s)
    put("store.lease_ms", named("store.lease"), lambda xs: 1e3 * mean_s(xs))
    put("store.swap_ms", named("store.swap"), lambda xs: 1e3 * mean_s(xs))
    put("store.manifest_refresh_ms", named("store.manifest_refresh"), lambda xs: 1e3 * mean_s(xs))
    put("store.open_snapshot_ms", named("store.open_snapshot"), lambda xs: 1e3 * mean_s(xs))
    stats = _dir_stats(store)
    L["store.files"] = stats["files"]
    L["store.bytes"] = stats["bytes"]
    put("store.files_read_per_lookup", named("op.lookup") + named("op.ingest_lookup"), per_op("files_read"))
    for kind in ("lookup", "bm25", "phrase"):
        put(f"query.{kind}.plan_ms", named(f"query.{kind}.plan"), lambda xs: 1e3 * mean_s(xs))
        put(f"query.{kind}.exec_ms", named(f"query.{kind}.exec"), lambda xs: 1e3 * mean_s(xs))
        put(f"query.{kind}.jobs_per_op", named(f"op.{kind}"), per_op("jobs"))
        put(f"query.{kind}.tasks_per_op", named(f"op.{kind}"), per_op("tasks"))
    L["spark.gc_ms"] = per_op("gc_ms")(ops)
    L["spark.executor_run_ms"] = per_op("executor_run_ms")(ops)


def trace_overhead(b: Bench, untraced: dict) -> float:
    """Percent by which the traced run's ops took longer than the
    untraced run's (same workload; the report names its seed): per op
    type, the change in
    median latency, weighted by the traced run's call counts."""
    num = den = 0.0
    for kind, xs in b.lat.items():
        base = untraced["ops"].get(kind, {}).get("p50_ms")
        if xs and base:
            num += len(xs) * (statistics.median(xs) * 1e3 - base)
            den += len(xs) * base
    return 100 * num / den


# -- entry --------------------------------------------------------------------


def _load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _untraced_report(args) -> dict | None:
    """The report of an untraced run of this workload, to set the
    traced run against: this seed's if one ran in this checkout, else
    the newest one (its ops ran on other inputs of the same profile),
    else one run now in a child process."""
    mine = os.path.join(REPORTS, f"{args.workload}-s{args.seed}.json")
    if not os.path.isfile(mine):
        others = [os.path.join(REPORTS, n) for n in os.listdir(REPORTS)
                  if n.startswith(f"{args.workload}-s")] if os.path.isdir(REPORTS) else []
        if others:
            mine = max(others, key=os.path.getmtime)
        else:
            code, lines = _child(args, args.workload, 0)
            if code != 0 or len(lines) < 2:
                return None
    with open(mine) as f:
        return json.load(f)


def _child(args, workload: str, trace: int) -> tuple[int, list[str]]:
    """Run one workload in a child process; its return code and the
    last two lines of its stdout (report, result)."""
    cmd = [sys.executable, os.path.abspath(__file__), "--workload", workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(trace)]
    p = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
    return p.returncode, p.stdout.strip().splitlines()[-2:]


def run_all(args) -> int:
    """Every workload from one seed, each in its own process."""
    rc = 0
    for w in WORKLOADS:
        code, lines = _child(args, w, args.trace)
        print("\n".join(lines), flush=True)
        rc = rc or code
    return rc


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", default="all", choices=(*WORKLOADS, "all"))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, help="measured seconds (default: run_seconds)")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    try:
        spec = _load_spec()
    except OSError as e:
        print(f"no BENCHMARK.json beside perfbench/: {e}", file=sys.stderr)
        return 2
    if args.seconds is None:
        args.seconds = spec["run_seconds"]
    if args.workload == "all":
        return run_all(args)
    if not os.path.isdir(os.path.join(ROOT, "mapreduce_inverted_index_spark")):
        print(f"no engine package beside perfbench/ in {ROOT}", file=sys.stderr)
        return 2
    untraced = None
    if args.trace:
        untraced = _untraced_report(args)
        if untraced is None:
            print("the untraced run failed", file=sys.stderr)
            return 1
    work = os.path.join(WORK_ROOT, f"run-{os.getpid()}")
    # before the engine is imported: its session defaults read the
    # environment at import time
    _host_env(work)
    sys.path.insert(0, ROOT)
    bench = None
    try:
        bench = Bench(args, work)
        e2e = run_workload(bench)
        if args.trace:
            bench.layers["trace.overhead_pct"] = trace_overhead(bench, untraced)
            trace_dir = os.path.join(WORK_ROOT, "traces")
            os.makedirs(trace_dir, exist_ok=True)
            bench.tr.dump(os.path.join(trace_dir, f"{args.workload}-s{args.seed}.json"),
                          {"layers": bench.layers, "dropped": bench.extra.get("dropped", {}),
                           "targets": LAYERS})
    finally:
        if bench is not None:
            bench.close()
            bench.phase("closed")
        shutil.rmtree(work, ignore_errors=True)
    if args.trace:
        names, values = spec["per_layer"], bench.layers
    else:
        names, values = spec["end_to_end"], e2e
    metrics = {m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]}
               for m in names if m["name"] in values}
    report = bench.report(e2e)
    if args.trace:
        report["untraced"] = {"seed": untraced["seed"], "ops": untraced["ops"]}
        report["layer_targets"] = {k: LAYERS[k] for k in metrics}
    else:
        os.makedirs(REPORTS, exist_ok=True)
        with open(os.path.join(REPORTS, f"{args.workload}-s{args.seed}.json"), "w") as f:
            json.dump(report, f)
    print(json.dumps(report))
    missing = [m["name"] for m in names if m["name"] not in metrics]
    if missing:
        dropped = bench.extra.get("dropped", {})
        why = [f"{n} ({dropped.get(n, 'no value')})" for n in missing]
        print("not measured: " + ", ".join(why), file=sys.stderr)
        return 1
    print(json.dumps({
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
