"""Spans around the benchmark's calls into the package, and the
outside-in Spark counters that go with them.

Only the traced run (``--trace 1``) records anything, and only in its
measured loop: a :class:`Tracer` that is not ``enabled`` hands out a
shared no-op span, so the untraced run pays one attribute lookup per
call. Spans live in memory, are
written out as JSON when the run ends, and are reduced to self times.

Each span sets the Spark job group to its own id, so every job, stage
and SQL execution can be attributed to the innermost span that
started it; the counters themselves are read in bulk from the
driver's local REST endpoint after the measured loop.
"""

from __future__ import annotations

import json
import time
import urllib.request
from collections import defaultdict
from dataclasses import dataclass


@dataclass
class Span:
    id: int
    name: str
    start: float
    parent: int | None
    workload: str
    op: int | None
    end: float = 0.0


class _NoSpan:
    def __enter__(self):
        return None

    def __exit__(self, *exc):
        return False


_NO_SPAN = _NoSpan()


class _ActiveSpan:
    def __init__(self, tracer: "Tracer", name: str, op: int | None):
        self._tracer = tracer
        self._name = name
        self._op = op

    def __enter__(self):
        t = self._tracer
        parent = t.stack[-1] if t.stack else None
        op = self._op if self._op is not None else (parent.op if parent else None)
        span = Span(len(t.spans), self._name, time.perf_counter(),
                    parent.id if parent else None, t.workload, op)
        t.spans.append(span)
        t.stack.append(span)
        t.set_group(span.id)
        return span

    def __exit__(self, *exc):
        t = self._tracer
        span = t.stack.pop()
        span.end = time.perf_counter()
        t.set_group(t.stack[-1].id if t.stack else None)
        return False


class Tracer:
    """In-memory span recorder for one run of one workload."""

    def __init__(self, workload: str):
        self.enabled = False
        self.workload = workload
        self.spans: list[Span] = []
        self.stack: list[Span] = []
        self._sc = None

    def attach(self, sc) -> None:
        self._sc = sc

    def span(self, name: str, op: int | None = None):
        if not self.enabled:
            return _NO_SPAN
        return _ActiveSpan(self, name, op)

    def set_group(self, span_id: int | None) -> None:
        if self._sc is None:
            return
        if span_id is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self._sc.setJobGroup(f"span-{span_id}", f"span-{span_id}")

    def self_times(self) -> dict[str, dict[str, float]]:
        """``{name: {"self_s", "total_s", "count"}}``: a span's self
        time is its duration minus the time its direct children cover."""
        child = defaultdict(float)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.end - s.start
        out: dict[str, dict[str, float]] = {}
        for s in self.spans:
            d = out.setdefault(s.name, {"self_s": 0.0, "total_s": 0.0, "count": 0})
            d["self_s"] += (s.end - s.start) - child[s.id]
            d["total_s"] += s.end - s.start
            d["count"] += 1
        return out

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({
                "workload": self.workload,
                "spans": [s.__dict__ for s in self.spans],
                "self_times": self.self_times(),
                **extra,
            }, f)


def patch_store(tracer: Tracer) -> None:
    """Wrap the ``operators.store`` entry points in spans. The index
    operators import these names from the module at call time, so
    replacing the module attributes reaches every caller."""
    import contextlib

    from mapreduce_inverted_index_spark.operators import store

    lease = store.mutation_lease

    @contextlib.contextmanager
    def mutation_lease(path):
        # the lease span covers acquire and release, not the guarded work
        with tracer.span("store.lease"):
            cm = lease(path)
            cm.__enter__()
        try:
            yield
        except BaseException as e:
            with tracer.span("store.lease"):
                if not cm.__exit__(type(e), e, e.__traceback__):
                    raise
        else:
            with tracer.span("store.lease"):
                cm.__exit__(None, None, None)

    def wrap(name, fn):
        def traced(*a, **kw):
            with tracer.span(name):
                return fn(*a, **kw)

        traced.__wrapped__ = fn
        return traced

    store.mutation_lease = mutation_lease
    store.swap_partition_dirs = wrap("store.swap", store.swap_partition_dirs)
    store.refresh_manifest = wrap("store.manifest_refresh", store.refresh_manifest)
    store.open_snapshot = wrap("store.open_snapshot", store.open_snapshot)


class SparkCounters:
    """Bulk reads of the driver's monitoring REST endpoint."""

    def __init__(self, sc):
        self._base = None
        url = sc.uiWebUrl
        if url:
            port = url.rsplit(":", 1)[1]
            self._base = f"http://localhost:{port}/api/v1/applications/{sc.applicationId}"

    def _get(self, path: str):
        if self._base is None:
            return []
        with urllib.request.urlopen(self._base + path, timeout=30) as r:
            return json.load(r)

    def by_group(self) -> dict[str, dict[str, float]]:
        """Counters per job group: jobs, tasks, stage IO and time, and
        files read by SQL scans."""
        jobs = self._get("/jobs")
        stages = {s["stageId"]: s for s in self._get("/stages?status=complete")}
        sql = self._get("/sql?details=true&offset=0&length=1000000")
        job_group = {}
        out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        for j in jobs:
            g = j.get("jobGroup")
            if not g:
                continue
            job_group[j["jobId"]] = g
            c = out[g]
            c["jobs"] += 1
            for sid in j.get("stageIds", []):
                s = stages.get(sid)
                if s is None:  # skipped stage: its output was reused
                    continue
                c["tasks"] += s.get("numTasks", 0)
                c["input_bytes"] += s.get("inputBytes", 0)
                c["shuffle_write_bytes"] += s.get("shuffleWriteBytes", 0)
                c["spill_bytes"] += s.get("memoryBytesSpilled", 0) + s.get("diskBytesSpilled", 0)
                c["gc_ms"] += s.get("jvmGcTime", 0)
                c["executor_run_ms"] += s.get("executorRunTime", 0)
        for e in sql:
            ids = e.get("successJobIds", []) + e.get("failedJobIds", [])
            groups = {job_group[i] for i in ids if i in job_group}
            if len(groups) != 1:
                continue
            files = 0
            for node in e.get("nodes", []):
                for m in node.get("metrics", []):
                    if m.get("name") == "number of files read":
                        files += int(str(m.get("value", "0")).replace(",", "") or 0)
            out[groups.pop()]["files_read"] += files
        return out
