"""Process-level plan-cache plumbing shared by the operator modules.

Several operator families keep persisted intermediates across calls
(similarity pair sets, connected-component maps, the co-supply edge list,
q154's index artifacts, multi-scan graph and spec intermediates) so that a
suite of queries consuming the SAME expensive artifact within one process
reuses it instead of recomputing. Every one of them is a :class:`PlanCache`
instance; the cross-cutting concerns live here so no module reinvents them:

- :func:`session_token` — a collision-free per-``SparkSession`` cache-key
  component. ``id(session)`` can be REUSED after a session object is
  garbage-collected (CPython recycles addresses), which would let a stale
  cache entry leak into a new session; a uuid attached to the session
  object on first use cannot collide.
- :func:`clear_plan_caches` — empties every :class:`PlanCache` (each
  registers itself when built) AND Spark's own CacheManager in one call,
  for cold-path measurement: bench.py's regression re-time, and each
  ``llm_dedup`` benchmark pass (``perfbench/workloads.py``), which must pay
  the full cache build on every pass. Without this, re-timing a query
  measures an InMemoryTableScan of the first run's persisted
  intermediates, not the plan.
"""

from __future__ import annotations

import itertools
import uuid
from collections import OrderedDict

from pyspark.sql import SparkSession

_TOKEN_ATTR = "_spark_graft_cache_token"

#: every PlanCache ever built, in construction order (clear_plan_caches)
_CACHES: list[PlanCache] = []


def session_token(spark: SparkSession) -> str:
    """Stable, non-reusable identity for ``spark`` (see module docstring)."""
    tok = getattr(spark, _TOKEN_ATTR, None)
    if tok is None:
        tok = uuid.uuid4().hex
        setattr(spark, _TOKEN_ATTR, tok)
    return tok


def clear_plan_caches(spark: SparkSession | None = None) -> None:
    """Empty every :class:`PlanCache` (unpersisting their DataFrames) and,
    when a session is given, Spark's CacheManager too — so the next
    execution of any registered plan is a genuine cold run."""
    for cache in _CACHES:
        cache.clear()
    if spark is not None:
        spark.catalog.clearCache()


def _unpersist(value) -> None:
    """Unpersist every DataFrame in ``value``: a frame, or a tuple or list
    nesting frames beside plain values (the edge cache's ``(edges, deg,
    n_nodes)``, q154's list of ``(bands, hashes)`` pairs)."""
    if isinstance(value, (tuple, list)):
        for v in value:
            _unpersist(v)
    elif hasattr(value, "unpersist"):
        try:
            value.unpersist()
        except Exception:
            pass


class PlanCache:
    """Bounded LRU of persisted plan intermediates with PINNED (cap-immune)
    keys.

    - ``put(key, value, pin=False, session_token=None)``: insert (or
      replace) and return ``value``; then, while more than ``max_unpinned``
      entries are unpinned, the least recently used unpinned one leaves
      and every DataFrame in it is unpersisted (correctness is unaffected
      — lineage recomputes). Pinned entries occupy no capped slot, so a
      pinned put evicts nothing.
    - ``get(key, pin=False)``: the entry or None; a hit refreshes its
      recency, and a pinning caller pins on HIT too (the entry may have
      been inserted unpinned by a non-canary warm-up).
    - ``track(value)``: keyless insert under a fresh key, for persists
      that are bounded but never looked up again; returns ``value``.
    - Pins are per-SESSION: keys embed a ``session_token`` element, and a
      put that names its session DEMOTES (not evicts) pinned keys that do
      not contain that token — a process cycling SparkSessions would
      otherwise accumulate immortal pins holding dead sessions' frames;
      demoted entries age out through the normal cap.
    - ``clear()`` drops everything, pins included (cold-path protocol);
      :func:`clear_plan_caches` calls it on every instance.
    """

    def __init__(self, max_unpinned: int):
        self.max_unpinned = max_unpinned
        self.data: OrderedDict = OrderedDict()
        self.pins: set = set()
        self._seq = itertools.count()
        _CACHES.append(self)

    def __contains__(self, key) -> bool:
        return key in self.data

    def __len__(self) -> int:
        return len(self.data)

    def __iter__(self):
        return iter(self.data)

    def get(self, key, pin: bool = False):
        if key not in self.data:
            return None
        if pin:
            self.pins.add(key)
        self.data.move_to_end(key)
        return self.data[key]

    def put(self, key, value, pin: bool = False, session_token=None):
        if session_token is not None:
            self.pins = {k for k in self.pins if session_token in k}
        if pin:
            self.pins.add(key)
        self.data[key] = value
        self.data.move_to_end(key)
        unpinned = [k for k in self.data if k not in self.pins]
        for k in unpinned[: max(0, len(unpinned) - self.max_unpinned)]:
            _unpersist(self.data.pop(k))
        return value

    def track(self, value):
        return self.put(("tracked", next(self._seq)), value)

    def clear(self) -> None:
        self.pins.clear()
        while self.data:
            _unpersist(self.data.popitem(last=False)[1])


#: Generic bounded registry for one-off persisted plan intermediates
#: (specs that scan an expensive derived frame more than once persist it
#: through here). Oldest entries unpersist on overflow and
#: clear_plan_caches drops them all for cold-path measurement.
_TRACKED = PlanCache(32)

#: Record a persisted DataFrame in the shared bounded registry and return
#: it (chainable around ``.persist(...)``).
track_persist = _TRACKED.track
