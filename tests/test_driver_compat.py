"""Catalog-wide driver-compatibility schema guard.

The correctness driver canonicalizes each result by sorting pandas
rows and hashing cell values; a top-level ArrayType/MapType column
makes that hash crash (``TypeError: unhashable type: 'list'``). This
failure class has bitten three times (r5 ``media_features``, r7
``vocab_token_ids`` + ``media_resize_pixels``) — this structural test
ends it: every oracle-carrying catalog query must expose a
scalar-only top-level schema. Array-valued operators keep their array
APIs; their catalog twins unpack/join to scalars.

Rows-only queries (``oracle=None``) are exempt: the driver only
counts their rows, never hashes cells.
"""

from __future__ import annotations

import pytest
from pyspark.sql.types import ArrayType, MapType, StructType

from mapreduce_inverted_index_spark.plans.registry import all_queries

_QUERIES = all_queries()
_ORACLE_CARRYING = sorted(n for n, q in _QUERIES.items() if q.oracle is not None)


def test_every_query_is_scale_classified():
    from mapreduce_inverted_index_spark.plans.registry import SCALE_CLASSES

    unclassified = [
        n for n, q in _QUERIES.items() if q.scale_class not in SCALE_CLASSES
    ]
    assert not unclassified


def test_every_demo_names_a_production_twin():
    """A 100x-scale catalog sweep mechanically skips scale_class=
    'demo' entries; each one must point the reader at the registered
    production form it demonstrates the API of."""
    demos = {n: q for n, q in _QUERIES.items() if q.scale_class == "demo"}
    assert demos, "the catalog documents its known demo forms"
    for name, q in demos.items():
        twins = [
            other
            for other in _QUERIES
            if other != name
            and other in q.doc
            and _QUERIES[other].scale_class == "production"
        ]
        assert twins, f"{name} names no registered production twin in its doc"


@pytest.mark.parametrize("name", _ORACLE_CARRYING)
def test_no_unhashable_columns_in_driver_output(spark, sf_oracle, query_df, name):
    # The schema comes from the plan builder and is SF-independent;
    # constructing at the oracle SF through the session query_df cache
    # means the oracle differential reuses this construction instead
    # of re-paying each query's eager build work (store seeds, stream
    # folds) a second time per suite run.
    df = query_df(name, sf_oracle)
    bad = [
        f"{f.name}: {f.dataType.simpleString()}"
        for f in df.schema.fields
        if isinstance(f.dataType, (ArrayType, MapType, StructType))
    ]
    assert not bad, (
        f"{name} outputs driver-unhashable top-level columns {bad}; "
        "scalar-ize the catalog twin (array_join / element unpack) "
        "and keep the array form as the operator API"
    )


def test_driver_window_is_mechanical():
    """_DRIVER_PRIORITY must equal tools/driver_window.py's output —
    the staleness-ordered window (never-driver-checked first, then
    ascending latest-green-round, registration-order tiebreak) over
    the committed CORRECTNESS_r*.json files. Hand-editing the window
    without regenerating it is the failure this pins (VERDICT r8
    ask #4)."""
    import importlib.util
    import os

    from mapreduce_inverted_index_spark.plans.registry import (
        _DRIVER_PRIORITY,
    )

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "driver_window", f"{repo}/tools/driver_window.py"
    )
    dw = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(dw)
    want = dw.compute_window(
        dw.registration_order(), dw.latest_green_rounds(), len(_DRIVER_PRIORITY)
    )
    assert list(_DRIVER_PRIORITY) == want


def test_catalog_query_leaves_no_work_dir(tmp_path):
    """A catalog query that writes a store puts it under the
    per-process work root, and the process removes that root when it
    exits: a driver process that runs a query and exits leaves no
    directory behind in the temp dir."""
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    tmp = tmp_path / "tmp"
    tmp.mkdir()
    script = (
        "import os\n"
        "from mapreduce_inverted_index_spark.plans.registry import "
        "all_queries, work_root\n"
        "from mapreduce_inverted_index_spark.session import get_spark\n"
        "spark = get_spark(extra_conf={'spark.ui.enabled': 'false'})\n"
        "rows = all_queries()['term_lookup_store_pruned'].fn(\n"
        "    spark, '/root/testdata/sf0.001').collect()\n"
        "assert rows and os.listdir(work_root())\n"
        "print(work_root())\n"
    )
    env = {
        **os.environ,
        "TMPDIR": str(tmp),
        "SPARK_GRAFT_CPUS": "1",
        "SPARK_GRAFT_DRIVER_MEM": "1g",
        "PYTHONPATH": repo,
    }
    out = subprocess.run(
        [sys.executable, "-c", script],
        cwd=repo,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    root = out.stdout.strip().splitlines()[-1]
    assert root.startswith(str(tmp)), root
    assert not os.path.exists(root)
    assert os.listdir(tmp) == []
