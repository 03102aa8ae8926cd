"""Guards for the code outside the package that imports from it.

The probe tools, ``bench.py`` and the driver entry import package
internals by name, and the benchmark's tracer (``perfbench/spans.py``)
wraps ``operators.store`` entry points by attribute name. Nothing
else runs these on every change, so a helper deleted or renamed in
the package would break them silently; these tests fail instead.
Inside the package, only ``operators/store.py`` may drive the
partition-swap commit steps, and no other module under ``operators/``
or ``streaming/`` renames or removes files.

Calls from those scripts must also match the package's signatures,
and every option of a package function must be set by some caller
and read by the function. A test counts as a caller only for the
options listed in ``TEST_SEAMS``.
"""

from __future__ import annotations

import ast
import glob
import importlib
import importlib.util
import inspect
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
    ivf_pruned_scan_topk(spark, cells, cents, queries, k=2, n_probe=1)
    assert calls == ["bucket", "cell"]


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


# Tier-1 runs none of these; a package signature change that drifts
# from their calls would only surface when someone runs them.
UNRUN_SCRIPTS = SCRIPTS + sorted(glob.glob(os.path.join(ROOT, "perfbench", "*.py")))


def _bound_package_names(tree: ast.AST) -> dict:
    """Local name -> package module or object for every absolute
    import of the package in ``tree``, at any nesting depth."""
    bound = {}
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and node.level == 0:
            mod = node.module or ""
            if mod != PKG and not mod.startswith(PKG + "."):
                continue
            m = importlib.import_module(mod)
            for a in node.names:
                if hasattr(m, a.name):
                    bound[a.asname or a.name] = getattr(m, a.name)
                elif importlib.util.find_spec(f"{mod}.{a.name}") is not None:
                    bound[a.asname or a.name] = importlib.import_module(
                        f"{mod}.{a.name}"
                    )
        elif isinstance(node, ast.Import):
            for a in node.names:
                if a.name == PKG or a.name.startswith(PKG + "."):
                    m = importlib.import_module(a.name)
                    if a.asname:
                        bound[a.asname] = m
                    else:
                        bound[PKG] = importlib.import_module(PKG)
    return bound


def _resolve(expr: ast.expr, bound: dict):
    if isinstance(expr, ast.Name):
        return bound.get(expr.id)
    if isinstance(expr, ast.Attribute):
        owner = _resolve(expr.value, bound)
        if inspect.ismodule(owner):
            return getattr(owner, expr.attr, None)
    return None


@pytest.mark.parametrize(
    "path", UNRUN_SCRIPTS, ids=[os.path.relpath(p, ROOT) for p in UNRUN_SCRIPTS]
)
def test_script_package_calls_match_signatures(path):
    """Every call from a script to an imported package function names
    only parameters the function has, and passes no more positional
    arguments than it accepts."""
    with open(path) as f:
        tree = ast.parse(f.read(), path)
    bound = _bound_package_names(tree)
    drift = []
    for call in ast.walk(tree):
        if not isinstance(call, ast.Call):
            continue
        fn = _resolve(call.func, bound)
        if not inspect.isfunction(fn) or not fn.__module__.startswith(PKG):
            continue
        params = inspect.signature(fn).parameters.values()
        kinds = {p.kind for p in params}
        where = f"line {call.lineno}: {fn.__module__}.{fn.__name__}"
        if inspect.Parameter.VAR_KEYWORD not in kinds:
            names = {
                p.name
                for p in params
                if p.kind
                in (p.POSITIONAL_OR_KEYWORD, p.KEYWORD_ONLY)
            }
            drift += [
                f"{where}: no parameter {kw.arg!r}"
                for kw in call.keywords
                if kw.arg is not None and kw.arg not in names
            ]
        if inspect.Parameter.VAR_POSITIONAL not in kinds and not any(
            isinstance(a, ast.Starred) for a in call.args
        ):
            n_pos = sum(
                p.kind in (p.POSITIONAL_ONLY, p.POSITIONAL_OR_KEYWORD)
                for p in params
            )
            if len(call.args) > n_pos:
                drift.append(
                    f"{where}: {len(call.args)} positional arguments, "
                    f"accepts {n_pos}"
                )
    assert not drift, "\n".join(drift)


# Options no code in the repo sets that stay configurable: deployment
# settings, chosen by whoever runs the job rather than by any caller.
DEPLOYMENT_OPTIONS = {
    ("session.py", "get_spark", "master"): (
        "Spark master URL of the deployment (the session builder's "
        "default when omitted)"
    ),
    ("streaming/ingest.py", "maintain_semantic_cells_available_now", "glob"): (
        "file pattern of the deployment's embedding landing directory"
    ),
    ("streaming/ingest.py", "maintain_takedowns_available_now", "glob"): (
        "file pattern of the deployment's takedown landing directory"
    ),
    ("streaming/ingest.py", "maintain_cell_takedowns_available_now", "glob"): (
        "file pattern of the deployment's takedown landing directory"
    ),
    ("streaming/ingest.py", "maintain_chunks_available_now", "glob"): (
        "file pattern of the deployment's document landing directory"
    ),
    ("streaming/sketches.py", "docs_stream", "glob"): (
        "file pattern of the deployment's document landing directory"
    ),
    ("streaming/sketches.py", "maintain_frequent_terms_available_now", "glob"): (
        "file pattern of the deployment's document landing directory"
    ),
    ("streaming/sketches.py", "verified_heavy_terms", "glob"): (
        "file pattern of the deployment's document landing directory"
    ),
}

# Options only tests set that stay, each with the test that sets it
# and why: a cap, threshold, retry timing or injected clock the test
# needs at a value the package never reaches at fixture scale, or an
# alternative path that is the only reference the test checks the
# default against. A test call sets no other option.
TEST_SEAMS = {
    ("operators/dedup.py", "dup_components", "max_iter"): (
        "test_round2_fixes.py::test_dup_components_raises_when_iteration_cap_too_low",
        "a cap of 1 round is the only way a fixture-sized graph fails "
        "to converge, which the non-convergence raise needs",
    ),
    ("operators/dedup.py", "ngram_jaccard_pairs", "max_shingle_df"): (
        "test_round12_ops.py::test_ngram_jaccard_hot_shingle_routing",
        "no fixture shingle reaches the default df cap of 1000, so the "
        "chunked hot-key join runs only under a cap of 1 or 5",
    ),
    ("operators/quality.py", "binary_auc", "buckets"): (
        "test_round6e_ops.py::test_auc_matches_pairwise_definition_and_buckets",
        "the default 32 prefix-sum buckets give each of the fixture's "
        "few distinct scores a bucket of its own; 1-16 buckets make "
        "in-bucket running sums and bucket offsets both carry",
    ),
    ("operators/quality.py", "gini_coefficient", "buckets"): (
        "test_round6e_ops.py::test_gini_matches_brute_force",
        "the default 32 prefix-sum buckets give each of the fixture's "
        "6 distinct values a bucket of its own; 4 make in-bucket "
        "running sums and bucket offsets both carry",
    ),
    ("operators/quality.py", "quantile_normalize", "buckets"): (
        "test_round6e_ops.py::test_quantile_normalize_bucket_invariance_and_bounds",
        "buckets=1, the single-partition prefix, is the reference the "
        "4- and 16-bucket results are pinned to",
    ),
    ("operators/similarity.py", "ivf_centroids", "checkpoint"): (
        "test_ivf_assign_routes.py::test_codebook_routes_are_float_identical",
        "the broadcast max_by route is the only reference the default "
        "literal-argmax codebook is compared against; no oracle checks "
        "the codebook",
    ),
    ("operators/similarity.py", "semantic_incremental_dedup", "broadcast_max_rows"): (
        "test_round8_fixes.py::test_semantic_incremental_broadcast_gate",
        "a fixture batch never exceeds the default 100k-row broadcast "
        "gate, so the shuffle route runs only under a threshold of 3",
    ),
    ("operators/skew.py", "bloom_prefiltered_join", "k"): (
        "test_round8_ops.py::test_bloom_prefiltered_join_exactness_and_selectivity",
        "one hash per key saturates a 64-bit filter, the false-positive "
        "flood the join must still discard",
    ),
    ("operators/skew.py", "bloom_prefiltered_join", "m_bits"): (
        "test_round8_ops.py::test_bloom_prefiltered_join_non_multiple_of_64_bits",
        "filter sizes off the 64-bit word grid and a saturated 64-bit "
        "filter are never chosen by the package",
    ),
    ("operators/store.py", "_read_committed", "retries"): (
        "test_round11_manifest.py::test_reader_never_sees_mixed_view_across_swap_states",
        "frozen mid-swap states fail loud after 3 retries instead of "
        "the default 40",
    ),
    ("operators/store.py", "_read_committed", "wait_sec"): (
        "test_round11_manifest.py::test_reader_never_sees_mixed_view_across_swap_states",
        "a 10 ms retry wait keeps the frozen-state tests fast",
    ),
    ("sources/formats.py", "write_final_index_json", "creation_time"): (
        "test_ids_and_sinks.py::test_final_index_json_reference_byte_shape",
        "an injected clock makes the artifact's bytes comparable",
    ),
    ("sources/formats.py", "write_final_index_json", "timestamp"): (
        "test_ids_and_sinks.py::test_final_index_json_reference_byte_shape",
        "an injected clock makes the artifact's name and bytes comparable",
    ),
}

TESTS_DIR = os.path.join(ROOT, "tests")

# Every file whose calls count as setting a package option; a test
# file's calls count only for ``TEST_SEAMS``.
CALLER_FILES = sorted(
    set(
        glob.glob(os.path.join(ROOT, PKG, "**", "*.py"), recursive=True)
        + glob.glob(os.path.join(TESTS_DIR, "*.py"))
        + UNRUN_SCRIPTS
    )
)


def _defaulted(fn: ast.FunctionDef) -> "list[str]":
    a = fn.args
    pos = a.posonlyargs + a.args
    return [p.arg for p in pos[len(pos) - len(a.defaults) :]] + [
        p.arg for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None
    ]


def _package_functions() -> dict:
    """``(module path relative to the package, name) -> FunctionDef``
    for every module-level function of the package."""
    out = {}
    root = os.path.join(ROOT, PKG)
    for path in sorted(glob.glob(os.path.join(root, "**", "*.py"), recursive=True)):
        with open(path) as f:
            tree = ast.parse(f.read(), path)
        rel = os.path.relpath(path, root)
        for node in tree.body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                out[(rel, node.name)] = node
    return out


def _set_options(funcs: dict, files=CALLER_FILES) -> set:
    """``(module, function, option)`` for every option some call in
    ``files`` sets: by keyword, by position, by ``*``/``**``
    unpacking, or through ``functools.partial``. A call from a test
    file sets an option only if it is in ``TEST_SEAMS``. A call that
    passes an enclosing function's own option straight through sets
    the callee's option only if some caller sets the enclosing one."""
    by_name = {}
    for key in funcs:
        by_name.setdefault(key[1], []).append(key)
    pkg_root = os.path.join(ROOT, PKG)
    direct, forwards = set(), {}
    for path in files:
        with open(path) as f:
            tree = ast.parse(f.read(), path)
        rel = os.path.relpath(path, pkg_root)
        from_test = os.path.dirname(path) == TESTS_DIR
        local = {
            n.name
            for n in tree.body
            if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
        }
        aliases = {
            a.asname: a.name
            for node in ast.walk(tree)
            if isinstance(node, ast.ImportFrom)
            for a in node.names
            if a.asname
        }

        def targets(func):
            if isinstance(func, ast.Name):
                if func.id in local and (rel, func.id) in funcs:
                    return [(rel, func.id)]
                return by_name.get(aliases.get(func.id, func.id), [])
            if isinstance(func, ast.Attribute):
                return by_name.get(func.attr, [])
            return []

        for top in tree.body:
            enc = (rel, getattr(top, "name", None))
            enc_opts = set(_defaulted(funcs[enc])) if enc in funcs else set()
            for call in ast.walk(top):
                if not isinstance(call, ast.Call):
                    continue
                args, tgts = call.args, targets(call.func)
                if (
                    not tgts
                    and getattr(call.func, "attr", getattr(call.func, "id", ""))
                    == "partial"
                    and args
                ):
                    args, tgts = args[1:], targets(args[0])
                for tgt in tgts:
                    fn = funcs[tgt]
                    params = [p.arg for p in fn.args.posonlyargs + fn.args.args]
                    opts = set(_defaulted(fn))
                    sets = []
                    for i, arg in enumerate(args):
                        if isinstance(arg, ast.Starred):
                            sets += [(p, None) for p in params[i:]]
                            break
                        if i < len(params):
                            sets.append((params[i], arg))
                    for kw in call.keywords:
                        if kw.arg is None:
                            sets += [(p, None) for p in opts]
                        else:
                            sets.append((kw.arg, kw.value))
                    for p, value in sets:
                        if p not in opts or (
                            from_test and (*tgt, p) not in TEST_SEAMS
                        ):
                            continue
                        if isinstance(value, ast.Name) and value.id in enc_opts:
                            src = (*enc, value.id)
                            if src != (*tgt, p):
                                forwards.setdefault(src, set()).add((*tgt, p))
                        else:
                            direct.add((*tgt, p))
    done, todo = set(direct), list(direct)
    while todo:
        for dst in forwards.get(todo.pop(), ()):
            if dst not in done:
                done.add(dst)
                todo.append(dst)
    return done


def test_every_package_option_is_set_and_read():
    """Each defaulted parameter of a module-level package function is
    a configuration tests and benchmarks must cover. Every one must
    be set by some call in the package, tools, perfbench,
    ``bench.py`` or ``__spark_entry__.py``, or by a test if it is a
    test seam in ``TEST_SEAMS``, unless it is a deployment setting in
    ``DEPLOYMENT_OPTIONS``; and every one must be read by its
    function's body: an option the body ignores silently drops what
    its caller asked for."""
    funcs = _package_functions()
    options = {(*key, p) for key, fn in funcs.items() for p in _defaulted(fn)}
    unset = sorted(options - _set_options(funcs) - set(DEPLOYMENT_OPTIONS))
    unread = sorted(
        (*key, p)
        for key, fn in funcs.items()
        for p in _defaulted(fn)
        if not any(
            isinstance(n, ast.Name) and n.id == p and isinstance(n.ctx, ast.Load)
            for stmt in fn.body
            for n in ast.walk(stmt)
        )
    )
    assert not unset and not unread, "\n".join(
        [f"unset: {m}:{f}({p})" for m, f, p in unset]
        + [f"unread: {m}:{f}({p})" for m, f, p in unread]
    )


def test_option_allowlists_are_current():
    """Every ``DEPLOYMENT_OPTIONS`` and ``TEST_SEAMS`` key is still a
    defaulted parameter of its function, no option is in both, and
    every seam is set by the test it names, so an entry left behind by
    a later deletion fails here."""
    funcs = _package_functions()
    options = {(*key, p) for key, fn in funcs.items() for p in _defaulted(fn)}
    listed = set(DEPLOYMENT_OPTIONS) | set(TEST_SEAMS)
    assert listed <= options, sorted(listed - options)
    assert not set(DEPLOYMENT_OPTIONS) & set(TEST_SEAMS)
    stale = []
    for key, (test_id, reason) in sorted(TEST_SEAMS.items()):
        path, name = test_id.split("::")
        path = os.path.join(TESTS_DIR, path)
        if not reason or not os.path.isfile(path):
            stale.append(f"{key}: {test_id}")
            continue
        with open(path) as f:
            tree = ast.parse(f.read(), path)
        if name not in {
            n.name for n in tree.body if isinstance(n, ast.FunctionDef)
        } or key not in _set_options(funcs, [path]):
            stale.append(f"{key}: {test_id}")
    assert not stale, "\n".join(stale)
