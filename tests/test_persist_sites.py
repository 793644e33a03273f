"""Every persist in the package goes through one helper.

``session.cached`` persists a frame and registers it with the innermost
``cache_scope``, which releases it when the scope exits. A direct
``.persist()`` or ``.cache()`` anywhere else in crawlspark would make a
cache that no scope releases, so the static guard fails on any such
call outside ``cached``.
"""

import ast
from pathlib import Path

import pytest
from pyspark import StorageLevel

from crawlspark.session import cache_scope, cached

PKG = Path(__file__).resolve().parents[1] / "crawlspark"


def _persist_calls(tree):
    """(enclosing top-level def, line) of each .persist(/.cache( call."""
    for top in tree.body:
        owner = getattr(top, "name", None)
        for node in ast.walk(top):
            if (isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr in ("persist", "cache")):
                yield owner, node.lineno


def test_only_the_helper_persists():
    calls = {p.name: list(_persist_calls(ast.parse(p.read_text(), str(p))))
             for p in sorted(PKG.glob("*.py"))}
    helper = calls.pop("session.py")
    assert [owner for owner, _ in helper] == ["cached"]  # the guard sees it
    assert {name: lines for name, lines in calls.items() if lines} == {}


def test_scope_releases_only_what_it_cached(spark):
    """Inner scopes release their own caches, also when the scope
    raises; a plan the caller had cached already keeps its cache."""
    def is_cached(df):
        return df.storageLevel != StorageLevel.NONE

    owned = spark.range(40).selectExpr("id * 2 AS x").persist()
    try:
        with cache_scope():
            outer = cached(spark.range(30))
            with pytest.raises(ZeroDivisionError):
                with cache_scope():
                    inner = cached(spark.range(20))
                    same = cached(spark.range(40).selectExpr("id * 2 AS x"))
                    assert inner.count() == 20 and same.count() == 40
                    1 / 0
            assert not is_cached(inner)
            assert is_cached(same) and is_cached(outer)
        assert not is_cached(outer)
        assert is_cached(owned)
    finally:
        owned.unpersist()
