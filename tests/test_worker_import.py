"""Registered plans must run where Spark's Python workers cannot import
the engine package.

A driver that puts the checkout on its own ``sys.path`` only (no
``PYTHONPATH``, cwd outside the checkout) is the layout of a cluster
deployment without ``--py-files``: the workers unpickle every kernel
without ``gcp_map_reduce_spark`` on their path. cloudpickle ships a
module-level function by reference, so a kernel that calls one fails
there with ``ModuleNotFoundError`` while passing every in-checkout test.
Every registered plan runs, in one fresh subprocess from ``tmp_path``,
and so does an ANN index build large enough for the Arrow cell
assignment (which no registered plan reaches at this scale).
"""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

import pytest

from tests.conftest import SF_SMALL

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_SCRIPT = textwrap.dedent(
    """
    import os
    import sys
    sys.path.insert(0, {root!r})
    from gcp_map_reduce_spark.operators.ann_index import (
        ARROW_ASSIGN_MIN_CELLS,
        ann_index_build,
    )
    from gcp_map_reduce_spark.plans import registry
    from gcp_map_reduce_spark.session import get_spark

    registry.load_catalog()
    spark = get_spark(app_name="worker-import", master="local[2]",
                      shuffle_partitions=2)
    try:
        for name, plan in registry.QUERIES.items():
            n = plan(spark, {sf!r}).count()
            print(name, n)
        meta = ann_index_build(spark, {sf!r}, os.path.abspath("idx"),
                               n_cells=ARROW_ASSIGN_MIN_CELLS)
        print("arrow_index_build", meta["n_vec"])
    finally:
        spark.stop()
    """
)


def test_plans_run_without_package_on_worker_path(tmp_path):
    from gcp_map_reduce_spark.plans import registry

    if not os.path.isdir(SF_SMALL):
        pytest.skip(f"{SF_SMALL} not generated")
    registry.load_catalog()
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    script = _SCRIPT.format(root=REPO_ROOT, sf=SF_SMALL)
    proc = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    counts = dict(line.split() for line in proc.stdout.splitlines() if line.strip())
    assert int(counts.pop("arrow_index_build")) > 0
    assert sorted(counts) == sorted(registry.QUERIES)
    assert all(int(n) > 0 for n in counts.values()), counts
