"""Managed cache lifecycle for operator intermediates.

Several operators persist an intermediate frame that is consumed more
than once downstream (the as-of union frame, the overlap melt, the
interval-algebra delta frame, the dedup shingle/batch frames). A bare
``.persist()`` there leaks in long-lived sessions: nothing ever
unpersists, and repeated operator calls grow the storage pool without
bound.

One rule owns those intermediates: each persist site holds at most
``PLANS_PER_SITE`` distinct PLANS, keyed the way Spark's own cache
keys them (``semanticHash()``, confirmed with ``sameSemantics()``).

- A call whose plan matches a held one refreshes that entry instead of
  adding one. Spark's CacheManager gives identical plans ONE shared
  cache entry, so a registry keyed per call would release, on behalf
  of an old call, the very entry a new identical call is reading — and
  ``uncacheQuery`` also recompiles every cached plan built on top of
  it. Keyed by plan, an eviction never drops an entry that a held
  plan shares.
- A new distinct plan evicts the site's oldest one. Two lets a
  pipeline hold two lazy results of one operator at once (two holt
  calls collected together; the backward and forward passes of a
  ``nearest`` as-of join).

``release()`` drops everything (or one site) eagerly, e.g. at the end
of a pipeline stage.

Contract notes:
- Unpersisting a frame a still-lazy earlier RESULT depends on is
  correctness-safe (Spark recomputes); only the caching benefit for
  that stale result is lost.
- ``blocking=False``: unpersist is async cleanup, never a barrier.
"""

from __future__ import annotations

import threading
from typing import Dict, List, Optional, Tuple

from pyspark import StorageLevel
from pyspark.sql import DataFrame

#: distinct plans one persist site keeps cached; the oldest goes first
PLANS_PER_SITE = 2

#: site -> [(semanticHash, persisted frame)], oldest first
_REGISTRY: Dict[str, List[Tuple[int, DataFrame]]] = {}
# drivers legitimately submit operator calls from several threads
# (concurrent job groups); without the lock two same-site calls race on
# the list and the loser's frame leaks unreferenced — the exact
# unbounded growth this module exists to prevent
_LOCK = threading.Lock()


def _unpersist_quietly(df: DataFrame) -> None:
    try:
        df.unpersist(blocking=False)
    except Exception:
        pass  # session gone / already unpersisted — nothing to hold


def managed_persist(
    df: DataFrame,
    site: str,
    storage_level: StorageLevel = StorageLevel.MEMORY_AND_DISK,
) -> DataFrame:
    """Persist ``df`` under ``site`` and return it. A plan the site
    already holds is refreshed (Spark serves it from the shared entry);
    a new plan evicts the site's oldest beyond ``PLANS_PER_SITE``."""
    h = df.semanticHash()
    out = df.persist(storage_level)
    with _LOCK:
        held = [
            (hh, f) for hh, f in _REGISTRY.get(site, [])
            if not (hh == h and f.sameSemantics(out))
        ]
        held.append((h, out))
        evicted = held[:-PLANS_PER_SITE]
        _REGISTRY[site] = held[-PLANS_PER_SITE:]
    for _, f in evicted:
        _unpersist_quietly(f)
    return out


def release(site: Optional[str] = None) -> int:
    """Unpersist managed intermediates — one site, or all when ``site``
    is None. Returns the number of frames released."""
    with _LOCK:
        sites = [site] if site is not None else list(_REGISTRY)
        dropped = [f for s in sites for _, f in _REGISTRY.pop(s, [])]
    for df in dropped:
        _unpersist_quietly(df)
    return len(dropped)


def held_plans() -> Dict[str, int]:
    """Distinct plans currently held per site (for tests /
    introspection)."""
    with _LOCK:
        return {s: len(v) for s, v in sorted(_REGISTRY.items())}
