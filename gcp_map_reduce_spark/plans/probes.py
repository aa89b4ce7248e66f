"""Session-scoped cache for plan-time probes.

One plan decision needs a number about an input table: the embeddings
row count behind the IVF cell count (``similarity.corpus_vec_count``).
It is one small Spark job, and several plan builds over the same corpus
ask the same question, so the value is cached per (probe, corpus): the
first caller pays the job, every later caller gets a dict lookup.

Keys embed a :func:`corpus_key` fingerprint (parquet mtime/size), so
regenerating a corpus in place self-invalidates. Every fresh corpus adds
entries, so the cache is bounded: it is cleared whenever it holds
``PROBE_CACHE_MAX`` entries (a reset costs re-probes, never a different
answer). ``clear()`` remains for tests.
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
    re-run, a test fixture rewrite) silently served the OLD
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


# Cached probe values before the cache starts over: a few entries per
# corpus, so this is hundreds of corpora in one driver.
PROBE_CACHE_MAX = 1024

_CACHE: dict[tuple, float] = {}
# monotone counters, exposed for the pytest gate ("the cached probe
# fires once") and for graftbench's plans.probe_* metrics
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
    if len(_CACHE) >= PROBE_CACHE_MAX:
        _CACHE.clear()
    _CACHE[key] = value
    log.info("probe %s -> %.3f (cached for session)", key, value)
    return value


def clear() -> None:
    """Drop every cached probe (tests; in-place corpus mutation)."""
    _CACHE.clear()
