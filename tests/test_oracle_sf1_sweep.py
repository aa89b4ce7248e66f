"""Stress-scale (~sf1) oracle sweep over the NON-QUADRATIC registry —
opt-in (set SPARK_GRAFT_SF1_SWEEP=1). Pins 10x-scale DuckDB value-hash
parity one step above the sf0.1 sweep: at the stress set's size AQE
picks yet another tier of physical plans (shuffled joins everywhere,
skew-split partitions), and the skewed generator (Zipfian customers,
dup-heavy documents) exercises code paths uniform sf0.1 data cannot.

Exactly three registered queries are excluded — their ORACLE twins
(not the Spark plans) are quadratic by design and die in DuckDB at this
scale, as recorded in SCALING.md "sf1 oracle sweep" note:

- ``dedup_clusters``: the recursive-CTE transitive closure spilled
  >80 GB of DuckDB temp and died at 635 s;
- ``dedup_embedding_cosine``: the embedding oracle's candidate set is
  quadratic-with-a-constant in DuckDB list-fold ops — the r10 banded
  mirror was a ~200M pair-evaluation inequality join (ran past 16
  min), and the r11 IVF mirror still folds ~(n_probe²/n_cells)·N²
  ≈ tens of millions of 64-element list dots at this scale;
- ``dedup_pair_scores``: the exact n-gram Jaccard oracle is an
  all-pairs shingle self-join, quadratic in the hottest shingle's doc
  frequency (the dup-heavy stress corpus is its worst case).

Those three keep their correctness evidence from (a) the full 50/50
value-hash sweeps at sf0.01 and sf0.1 and (b) the stress set's
scale-independent semantic identities asserted by the pytest suite
(exact==minhash clustering equality, the IVF near-dup recall floors
and bit-identical cosines). ``test_exclusion_list_is_pinned`` asserts the
list cannot grow silently.

Requires the stress set (``python tools/gen_stress.py`` builds it under
stress/sf1; ``tools/stress_ci.py`` generates it on first run). Runtime:
dominated by the DuckDB side of curated_corpus (~60 s measured r8);
whole sweep ~6-8 min wall on local[32]. Run:

    SPARK_GRAFT_SF1_SWEEP=1 python -m pytest tests/test_oracle_sf1_sweep.py -q
"""

from __future__ import annotations

import os

import pytest

pytestmark = pytest.mark.skipif(
    not os.environ.get("SPARK_GRAFT_SF1_SWEEP"),
    reason="sf1 stress-scale oracle sweep is opt-in: set SPARK_GRAFT_SF1_SWEEP=1",
)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF_STRESS = os.path.join(REPO, "stress", "sf1")

# The documented-quadratic DuckDB oracle twins (SCALING.md). The Spark
# plans are banded/bounded; only the SQL mirrors blow up at this scale.
QUADRATIC_ORACLE_TWINS = {
    "dedup_clusters",
    "dedup_embedding_cosine",
    "dedup_pair_scores",
}


def _registry_names() -> list[str]:
    from gcp_map_reduce_spark.plans import registry

    registry.load_catalog()
    return sorted(registry.QUERIES)


def test_exclusion_list_is_pinned():
    """The exclusion list is exactly the three documented twins — a new
    exclusion requires editing THIS set and the SCALING.md record, never
    a silent skip."""
    assert QUADRATIC_ORACLE_TWINS == {
        "dedup_clusters",
        "dedup_embedding_cosine",
        "dedup_pair_scores",
    }
    # and every excluded name is actually a registered query (a rename
    # must not leave a stale exclusion shadowing nothing)
    assert QUADRATIC_ORACLE_TWINS <= set(_registry_names())


@pytest.mark.parametrize(
    "name", [n for n in _registry_names() if n not in QUADRATIC_ORACLE_TWINS]
)
def test_oracle_parity_at_sf1(spark, name):
    if not os.path.isdir(SF_STRESS):
        pytest.skip("stress set absent — run: python tools/gen_stress.py")
    from tests.oracle_harness import compare

    result = compare(name, spark, SF_STRESS)
    assert result["status"] == "MATCH", result
