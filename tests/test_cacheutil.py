"""The one bounded cache behind every process-level plan cache
(``cacheutil.PlanCache``): eviction order, pins, what an evicted entry
unpersists, and that ``clear_plan_caches`` empties every instance the
package builds. No Spark session: the values are stand-ins that record
their ``unpersist`` calls, as the cache only duck-types them."""

from __future__ import annotations

import importlib
import pkgutil
from collections import OrderedDict

import pytest

import etl_dag_paris_velib_spark as pkg
from etl_dag_paris_velib_spark import cacheutil
from etl_dag_paris_velib_spark.cacheutil import PlanCache, clear_plan_caches


class Frame:
    """Stands in for a persisted DataFrame."""

    def __init__(self) -> None:
        self.unpersisted = 0

    def unpersist(self) -> None:
        self.unpersisted += 1


def test_eviction_unpersists_every_frame_of_tuple_and_list_values():
    cache = PlanCache(1)
    edges, deg = Frame(), Frame()
    arts = [(Frame(), Frame()), (Frame(), Frame())]
    cache.put("edge", (edges, deg, 7))
    cache.put("q154", arts)
    assert "edge" not in cache and edges.unpersisted == deg.unpersisted == 1
    cache.put("next", Frame())
    assert "q154" not in cache
    assert [f.unpersisted for pair in arts for f in pair] == [1, 1, 1, 1]


def test_hit_entry_outlives_newer_entry_never_hit():
    cache = PlanCache(2)
    old, newer = Frame(), Frame()
    cache.put("old", old)
    cache.put("newer", newer)
    assert cache.get("old") is old
    cache.put("newest", Frame())
    assert list(cache) == ["old", "newest"]
    assert newer.unpersisted == 1 and old.unpersisted == 0
    assert cache.get("absent") is None and cache.get(None) is None


def test_track_bounds_keyless_entries_oldest_first():
    cache = PlanCache(2)
    frames = [Frame() for _ in range(4)]
    for f in frames:
        assert cache.track(f) is f
    assert [f.unpersisted for f in frames] == [1, 1, 0, 0]
    assert len(cache) == 2


def test_pins_survive_cap_pressure_and_demote_on_another_session():
    cache = PlanCache(2)
    pinned = Frame()
    cache.put(("pair", "tok1"), pinned, pin=True, session_token="tok1")
    for i in range(5):
        cache.put(("flood", "tok1", i), Frame(), session_token="tok1")
    assert ("pair", "tok1") in cache and pinned.unpersisted == 0
    assert [k for k in cache if k not in cache.pins] == [
        ("flood", "tok1", 3),
        ("flood", "tok1", 4),
    ]
    # a pinned put occupies no capped slot, so it evicts nothing
    before = set(cache)
    cache.put(("pair2", "tok1"), Frame(), pin=True, session_token="tok1")
    assert before <= set(cache)
    # a pinning get pins an entry inserted unpinned
    cache.get(("flood", "tok1", 4), pin=True)
    assert ("flood", "tok1", 4) in cache.pins
    # a put from another session demotes the first session's pins, which
    # then age out through the cap, least recently used first
    cache.put(("pair", "tok2"), Frame(), session_token="tok2")
    assert cache.pins == set()
    assert list(cache) == [("flood", "tok1", 4), ("pair", "tok2")]
    assert pinned.unpersisted == 1


def _package_caches() -> dict[str, PlanCache]:
    """Every PlanCache bound to a module attribute anywhere in the package,
    by ``module.attribute`` (the first name each instance is bound to)."""
    found: dict[str, PlanCache] = {}
    for mod in pkgutil.walk_packages(pkg.__path__, pkg.__name__ + "."):
        module = importlib.import_module(mod.name)
        for name, value in vars(module).items():
            if isinstance(value, PlanCache) and value not in found.values():
                found[f"{mod.name.rsplit('.', 1)[-1]}.{name}"] = value
    return found


@pytest.fixture
def emptied_package_caches():
    """The package's caches, emptied for one test; whatever earlier tests
    left in them is put back untouched afterwards (not unpersisted)."""
    caches = _package_caches()
    saved = {name: (c.data, c.pins) for name, c in caches.items()}
    for c in caches.values():
        c.data, c.pins = OrderedDict(), set()
    yield caches
    for name, c in caches.items():
        c.data, c.pins = saved[name]


def test_clear_plan_caches_empties_every_package_cache(emptied_package_caches):
    caches = emptied_package_caches
    assert set(caches) == {
        "cacheutil._TRACKED",
        "similarity._PAIR_CACHE",
        "dedup._CC_CACHE",
        "graph._EDGE_CACHE",
        "graph._GRAPH_PERSISTS",
        "llm._Q154_ARTS",
    }
    frames = []
    for c in caches.values():
        f1, f2, f3 = Frame(), Frame(), Frame()
        frames += [f1, f2, f3]
        c.put(("pinned", "tok"), f1, pin=True, session_token="tok")
        c.put(("entry", "tok"), (f2, [f3], 1), session_token="tok")
        c.track(Frame())
    clear_plan_caches()
    for name, c in caches.items():
        assert len(c) == 0 and not c.pins, name
    assert all(f.unpersisted == 1 for f in frames)


def test_module_clearers_are_bound_to_their_caches():
    from etl_dag_paris_velib_spark.operators import dedup, similarity
    from etl_dag_paris_velib_spark.plans import graph, llm

    assert similarity.clear_pair_cache.__self__ is similarity._PAIR_CACHE
    assert dedup.clear_cc_cache.__self__ is dedup._CC_CACHE
    assert graph.clear_graph_persists.__self__ is graph._GRAPH_PERSISTS
    assert llm.clear_q154_artifacts.__self__ is llm._Q154_ARTS
    assert cacheutil.track_persist.__self__ is cacheutil._TRACKED
    caps = {
        similarity._PAIR_CACHE: 16,
        dedup._CC_CACHE: 16,
        graph._EDGE_CACHE: 4,
        graph._GRAPH_PERSISTS: 16,
        llm._Q154_ARTS: 2,
        cacheutil._TRACKED: 32,
    }
    assert all(c.max_unpinned == cap for c, cap in caps.items())
