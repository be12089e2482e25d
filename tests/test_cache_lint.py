"""Source lint: process-level caches are ``cacheutil.PlanCache`` instances.

An AST walk of the package fails when a module other than ``cacheutil.py``
evicts from a module-level container by hand (``popitem()`` or
``.pop(0)`` on a name bound at module level) or registers a clearer with
the plan-cache registry itself. A new cache is one ``PlanCache(cap)``
line, which brings its LRU eviction, pins, unpersist-on-leave and its
place in ``clear_plan_caches``.
"""

from __future__ import annotations

import ast
import os

import etl_dag_paris_velib_spark as pkg

PKG_DIR = os.path.dirname(pkg.__file__)

#: names through which a module would reach the clearer registry
REGISTRY_NAMES = {"register_cache_clearer", "_CACHES", "_CLEARERS"}


def _module_level_names(tree: ast.Module) -> set[str]:
    names = set()
    for node in tree.body:
        targets = []
        if isinstance(node, ast.Assign):
            targets = node.targets
        elif isinstance(node, (ast.AnnAssign, ast.AugAssign)):
            targets = [node.target]
        for t in targets:
            names |= {n.id for n in ast.walk(t) if isinstance(n, ast.Name)}
    return names


def violations(source: str, filename: str) -> list[str]:
    """Hand-rolled cache machinery in one module's source."""
    tree = ast.parse(source, filename)
    module_level = _module_level_names(tree)
    found = []
    for node in ast.walk(tree):
        where = f"{filename}:{getattr(node, 'lineno', 0)}"
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and isinstance(node.func.value, ast.Name)
            and node.func.value.id in module_level
        ):
            attr, args = node.func.attr, node.args
            pop0 = (
                attr == "pop"
                and len(args) == 1
                and isinstance(args[0], ast.Constant)
                and args[0].value == 0
            )
            if attr == "popitem" or pop0:
                found.append(f"{where}: evicts from {node.func.value.id} by hand")
        # a Name, an Attribute, or an imported or defined name
        name = getattr(node, "id", None) or getattr(node, "attr", None) or getattr(node, "name", None)
        if name in REGISTRY_NAMES:
            found.append(f"{where}: registers a clearer by hand ({name})")
    return found


def test_lint_flags_hand_rolled_caches():
    bad = """
from collections import OrderedDict
from ..cacheutil import register_cache_clearer
from .. import cacheutil

_CACHE = OrderedDict()
_LIST: list = []

def put(k, v):
    _CACHE[k] = v
    while len(_CACHE) > 4:
        _CACHE.popitem(last=False)
    _LIST.append(v)
    _LIST.pop(0)

cacheutil._CACHES.append(object())
"""
    got = violations(bad, "bad.py")
    assert len(got) == 4, got
    ok = """
_CACHE = PlanCache(4)

def f(xs):
    queue = list(xs)
    queue.pop(0)
    return {}.popitem()
"""
    assert violations(ok, "ok.py") == []


def test_only_cacheutil_has_cache_machinery():
    found = []
    for root, _dirs, files in os.walk(PKG_DIR):
        for f in sorted(files):
            path = os.path.join(root, f)
            if not f.endswith(".py") or path == os.path.join(PKG_DIR, "cacheutil.py"):
                continue
            with open(path) as fh:
                found += violations(fh.read(), os.path.relpath(path, PKG_DIR))
    assert found == [], "\n".join(found)
