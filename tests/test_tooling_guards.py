"""Guards for the code outside the package that imports from it.

The probe tools, ``bench.py`` and the driver entry import package
internals by name, and the benchmark's tracer (``perfbench/spans.py``)
wraps ``operators.store`` entry points by attribute name. Nothing
else runs these on every change, so a helper deleted or renamed in
the package would break them silently; these tests fail instead.
Inside the package, only ``operators/store.py`` may drive the
partition-swap commit steps, and no other module under ``operators/``
or ``streaming/`` renames or removes files.
"""

from __future__ import annotations

import ast
import glob
import importlib
import importlib.util
import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "mapreduce_inverted_index_spark"
SCRIPTS = sorted(
    glob.glob(os.path.join(ROOT, "tools", "*.py"))
    + [os.path.join(ROOT, "bench.py"), os.path.join(ROOT, "__spark_entry__.py")]
)


def _package_imports(path: str) -> "list[tuple[str, str | None, int]]":
    """``(module, name or None, line)`` for every absolute import of
    the package in ``path``, at any nesting depth."""
    with open(path) as f:
        tree = ast.parse(f.read(), path)
    out = []
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and node.level == 0:
            mod = node.module or ""
            if mod == PKG or mod.startswith(PKG + "."):
                out += [(mod, a.name, node.lineno) for a in node.names]
        elif isinstance(node, ast.Import):
            out += [
                (a.name, None, node.lineno)
                for a in node.names
                if a.name == PKG or a.name.startswith(PKG + ".")
            ]
    return out


@pytest.mark.parametrize(
    "path", SCRIPTS, ids=[os.path.relpath(p, ROOT) for p in SCRIPTS]
)
def test_script_package_imports_resolve(path):
    missing = []
    for mod, name, line in _package_imports(path):
        m = importlib.import_module(mod)
        if name is None or name == "*" or hasattr(m, name):
            continue
        if importlib.util.find_spec(f"{mod}.{name}") is None:
            missing.append(f"line {line}: from {mod} import {name}")
    assert not missing, "\n".join(missing)


STORE_PATCH_POINTS = (
    "mutation_lease",
    "swap_partition_dirs",
    "refresh_manifest",
    "open_snapshot",
)


def _spans_module(monkeypatch):
    spec = importlib.util.spec_from_file_location(
        "perfbench_spans", os.path.join(ROOT, "perfbench", "spans.py")
    )
    mod = importlib.util.module_from_spec(spec)
    # dataclasses resolve annotations through sys.modules
    monkeypatch.setitem(sys.modules, spec.name, mod)
    spec.loader.exec_module(mod)
    return mod


def test_benchmark_tracer_wraps_every_store_patch_point(
    spark, tmp_path, monkeypatch
):
    """``perfbench/spans.py:patch_store`` replaces four
    ``operators.store`` attributes; every one must exist, be replaced,
    and record its span through the index operators (the
    ``store.*_ms`` per-layer figures of a traced run)."""
    from mapreduce_inverted_index_spark.operators import store
    from mapreduce_inverted_index_spark.operators.inverted_index import (
        build_index,
        delete_from_index_store,
        read_index_store,
        write_index_store,
    )

    originals = {n: getattr(store, n) for n in STORE_PATCH_POINTS}
    for name, fn in originals.items():
        monkeypatch.setattr(store, name, fn)  # undone after the test
    spans = _spans_module(monkeypatch)
    tracer = spans.Tracer("guard")
    tracer.enabled = True
    spans.patch_store(tracer)
    for name, fn in originals.items():
        assert getattr(store, name) is not fn, name

    path = str(tmp_path / "store")
    docs = spark.createDataFrame(
        [(1, "alpha beta"), (2, "beta gamma")], "doc_id bigint, text string"
    )
    write_index_store(build_index(docs), path, n_buckets=4)
    delete_from_index_store(spark, path, [1])
    assert read_index_store(spark, path).count() > 0
    seen = {s.name for s in tracer.spans}
    assert {
        "store.lease",
        "store.swap",
        "store.manifest_refresh",
        "store.open_snapshot",
    } <= seen, seen


def test_store_readers_look_up_open_snapshot_at_call_time(
    spark, tmp_path, monkeypatch
):
    """The tracer can only reach a reader that resolves
    ``store.open_snapshot`` when it is called, not at import."""
    from mapreduce_inverted_index_spark.operators import store
    from mapreduce_inverted_index_spark.operators.inverted_index import (
        build_index,
        read_index_store,
        term_lookup_store,
        write_index_store,
    )
    from mapreduce_inverted_index_spark.operators.similarity import (
        ivf_pruned_scan_topk,
        write_ivf_cells,
    )

    idx = str(tmp_path / "index")
    write_index_store(
        build_index(
            spark.createDataFrame([(1, "alpha")], "doc_id bigint, text string")
        ),
        idx,
        n_buckets=4,
    )
    cells = str(tmp_path / "cells")
    write_ivf_cells(
        spark.createDataFrame(
            [(i, i % 2, [float(i), 1.0]) for i in range(6)],
            "vec_id bigint, cell int, vec array<double>",
        ),
        cells,
    )
    cents = spark.createDataFrame(
        [(0, [0.0, 1.0]), (1, [1.0, 1.0])], "cell int, centroid array<double>"
    )
    queries = spark.createDataFrame(
        [(100, [1.0, 1.0])], "query_id bigint, query_vec array<double>"
    )

    calls = []
    real = store.open_snapshot

    def counting(*a, **k):
        calls.append(a[2])
        return real(*a, **k)

    monkeypatch.setattr(store, "open_snapshot", counting)
    read_index_store(spark, idx)
    assert calls == ["bucket"]
    term_lookup_store(spark, idx, ["alpha"])
    assert calls == ["bucket", "bucket"]
    ivf_pruned_scan_topk(spark, cells, cents, queries, k=2, n_probe=1)
    assert calls == ["bucket", "bucket", "cell"]


STORE_COMMIT_INTERNALS = (
    "swap_partition_dirs",
    "recover_partition_swaps",
    "purge_swap_orphans",
)


def test_only_the_store_module_drives_partition_swaps():
    """Stores commit through ``store.seed_store`` and
    ``store.rewrite_partitions``; an operator that calls the swap,
    crash-recovery or orphan-purge steps itself has forked the commit
    protocol. Docstrings may name them; code may not."""
    offenders = []
    store = os.path.join(ROOT, PKG, "operators", "store.py")
    for path in sorted(
        glob.glob(os.path.join(ROOT, PKG, "**", "*.py"), recursive=True)
    ):
        if path == store:
            continue
        rel = os.path.relpath(path, ROOT)
        with open(path) as f:
            tree = ast.parse(f.read(), path)
        for node in ast.walk(tree):
            if isinstance(node, ast.Name):
                names = [node.id]
            elif isinstance(node, ast.Attribute):
                names = [node.attr]
            elif isinstance(node, (ast.Import, ast.ImportFrom)):
                names = [a.name for a in node.names]
            else:
                continue
            offenders += [
                f"{rel}:{node.lineno}: {n}"
                for n in names
                if n in STORE_COMMIT_INTERNALS
            ]
    assert not offenders, "\n".join(offenders)


FS_MUTATIONS = {
    "os": {"rename", "replace", "remove", "unlink"},
    "shutil": {"rmtree", "move"},
}


def test_only_the_store_module_renames_or_removes_files():
    """Every maintained state commits through ``operators/store.py``;
    an operator or streaming module that renames or removes files has
    a commit path of its own. ``plans/`` temp-dir cleanup and the
    ``sources/`` data-source writers (their own commit protocol) are
    out of scope."""
    offenders = []
    store = os.path.join(ROOT, PKG, "operators", "store.py")
    for sub in ("operators", "streaming"):
        for path in sorted(
            glob.glob(
                os.path.join(ROOT, PKG, sub, "**", "*.py"), recursive=True
            )
        ):
            if path == store:
                continue
            rel = os.path.relpath(path, ROOT)
            with open(path) as f:
                tree = ast.parse(f.read(), path)
            for node in ast.walk(tree):
                if (
                    isinstance(node, ast.Attribute)
                    and isinstance(node.value, ast.Name)
                    and node.attr in FS_MUTATIONS.get(node.value.id, ())
                ):
                    offenders.append(
                        f"{rel}:{node.lineno}: {node.value.id}.{node.attr}"
                    )
                elif isinstance(node, ast.ImportFrom) and node.level == 0:
                    offenders += [
                        f"{rel}:{node.lineno}: {node.module}.{a.name}"
                        for a in node.names
                        if a.name in FS_MUTATIONS.get(node.module, ())
                    ]
    assert not offenders, "\n".join(offenders)
