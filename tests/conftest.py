from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from binance_data_framework_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.001"

# Slow-test gate (VERDICT r13 #3): the full suite takes ~44 min, longer
# than the external verify budget, so a default `pytest tests/` run must
# finish in well under 15 min. Tests marked `@pytest.mark.slow` (the marker
# is registered in pyproject.toml) were measured >= ~12 s each (r14
# per-test duration sweep, summarized in OPTIMIZATION_r14.md); they are
# DESELECTED by default and run with
#   SPARK_GRAFT_FULL_TESTS=1 python -m pytest tests/
# The default set keeps at least one fast test per module/operator family,
# so the quick gate still exercises each tier end to end.


def pytest_collection_modifyitems(config, items):
    if os.environ.get("SPARK_GRAFT_FULL_TESTS"):
        return
    deselected = [item for item in items if item.get_closest_marker("slow")]
    if deselected:
        config.hook.pytest_deselected(items=deselected)
        items[:] = [item for item in items if not item.get_closest_marker("slow")]


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


def jobs_of(spark, group: str, fn):
    """(Spark jobs ``fn()`` launched, its result), counted through a job
    group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group)), out


def set_layout_rows(st, rows: int) -> None:
    """Commit ``rows`` as the row count of hash-layout store ``st``'s head
    (a metadata-only commit) and refresh the handle from it."""
    st._commit_rebased(
        lambda latest: ([], []),
        layout=lambda prev, *_: {**prev["layout"], "rows": rows},
    )
    st._snapshot()


def drop_recorded_schemas(root: str) -> None:
    """Strip the group schemas from every manifest of the store at
    ``root``: the manifests of a store committed before schemas were
    recorded."""
    import glob
    import json

    for path in glob.glob(os.path.join(root, "_manifests", "v*.json")):
        with open(path) as f:
            man = json.load(f)
        man.pop("schemas", None)
        with open(path, "w") as f:
            json.dump(man, f)
