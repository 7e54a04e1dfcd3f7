"""Cache lifecycle across the library: every persisted frame belongs to
a ``util.CacheScope`` and is freed when its owner lets go.

- every registered query, built and dropped, leaves Spark's
  CacheManager empty — no reliance on ``spark.catalog.clearCache()``;
- every registered query whose build cached something keeps those
  caches while its result is held, also through a garbage collection
  (the r12 derived-result trap: a projection of an operator result
  without ``util.keep_alive`` lets the operator's caches drain before
  execution); the span/containment/simhash queries, which derive a
  projection from an operator result, keep this check by name too;
- one cached-operator instance called twice: dropping one result frees
  only that call's caches;
- no bare ``.persist(``/``.cache(`` outside ``CacheScope`` and
  ``benchmark.SparkTimeProfiler``.

The leak check reads the CacheManager, not ``getPersistentRDDs()``:
the latter also lists ``localCheckpoint`` RDDs until a JVM GC runs,
and block removal after an unpersist is asynchronous.
"""

import ast
import gc
import os

import pytest
from pyspark.sql import functions as F

from pywrangler_spark.operators.dedup import (
    ContainmentPairs,
    MinHashLSHPairs,
    SimHashNearPairs,
    cdc_chunk_neardup_pairs,
)
from pywrangler_spark.operators.similarity import cosine_neardup_pairs
from pywrangler_spark.queries import QUERIES
from pywrangler_spark.sources import read_parquet
from pywrangler_spark.util import CacheScope

SF = "/root/testdata/sf0.001"
PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "pywrangler_spark",
)


def _cache_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


# consumes its cache eagerly inside the build (connected components);
# the result it returns reads no cached frame
_EAGER_CACHE_QUERIES = {"semantic_dedup_embeddings"}


@pytest.mark.parametrize("name", list(QUERIES))
def test_dropped_query_result_leaves_no_cache(spark, name, monkeypatch):
    spark.catalog.clearCache()
    assert _cache_empty(spark)
    # count the build's persists: a scope dropped inside the build is
    # drained by reference counting before the build returns, so an
    # empty CacheManager here does not mean nothing was cached
    persists = []
    persist = CacheScope.persist
    monkeypatch.setattr(
        CacheScope, "persist",
        lambda scope, *a: persists.append(1) or persist(scope, *a),
    )
    df = QUERIES[name](spark, SF)
    monkeypatch.undo()
    if persists and name not in _EAGER_CACHE_QUERIES:
        gc.collect()
        plan = df._jdf.queryExecution().withCachedData().toString()
        assert "InMemoryRelation" in plan, f"{name} lost its caches early"
    del df
    gc.collect()
    assert _cache_empty(spark), f"{name} leaves a persisted frame behind"


@pytest.mark.parametrize(
    "name",
    [
        "dedup_span_mask",
        "dedup_span_excise",
        "dedup_containment",
        "dedup_simhash_near",
    ],
)
def test_held_derived_result_keeps_operator_caches(spark, name):
    df = QUERIES[name](spark, SF)
    gc.collect()
    plan = df._jdf.queryExecution().withCachedData().toString()
    assert "InMemoryRelation" in plan, f"{name} lost its caches early"
    del df
    gc.collect()


OPERATORS = {
    "minhash": (
        "documents", "doc_id",
        lambda: MinHashLSHPairs("doc_id", "text"),
    ),
    "containment": (
        "documents", "doc_id",
        lambda: ContainmentPairs("doc_id", "text", threshold=0.5, max_df=50),
    ),
    "simhash": (
        "documents", "doc_id",
        lambda: SimHashNearPairs("doc_id", "text"),
    ),
    "cdc": (
        "documents", "doc_id",
        lambda: cdc_chunk_neardup_pairs("doc_id", "text"),
    ),
    "cosine": (
        "embeddings", "vec_id",
        lambda: cosine_neardup_pairs("vec_id", "embedding", threshold=0.3),
    ),
}


@pytest.mark.parametrize("kind", list(OPERATORS))
def test_operator_call_owns_only_its_caches(spark, persistent_rdds, kind):
    """One instance, two calls on two halves: dropping the second
    result must leave the first call's caches alone, and dropping the
    first frees its own with the instance still alive."""
    table, key, make = OPERATORS[kind]
    src = read_parquet(spark, f"{SF}/{table}.parquet")
    op = make()
    before = persistent_rdds()
    r1 = src.filter(F.col(key) % 2 == 0).transform(op)
    r1.count()
    mine = persistent_rdds() - before
    assert mine, "the first call persisted nothing"
    r2 = src.filter(F.col(key) % 2 == 1).transform(op)
    r2.count()
    del r2
    gc.collect()
    assert mine <= persistent_rdds(), "a sibling call's GC freed r1's caches"
    del r1
    gc.collect()
    assert not mine & persistent_rdds()


# where a bare persist is the whole point: the scope itself, and the
# profiler's local try/finally around a timed input
_ALLOWED_CLASSES = {
    ("util.py", "CacheScope"),
    ("benchmark.py", "SparkTimeProfiler"),
}


def _bare_persists(path: str, rel: str):
    tree = ast.parse(open(path).read())
    allowed = [
        n for n in ast.walk(tree)
        if isinstance(n, ast.ClassDef)
        and (os.path.basename(rel), n.name) in _ALLOWED_CLASSES
    ]
    inside = {id(c) for a in allowed for c in ast.walk(a)}
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr in ("persist", "cache")
            and id(node) not in inside
            # scope.persist(...) is the CacheScope path itself
            and not (
                isinstance(node.func.value, ast.Name)
                and node.func.value.id == "scope"
            )
        ):
            yield f"{rel}:{node.lineno}"


def test_no_bare_persist_outside_cache_scope():
    found = []
    for root, _, files in os.walk(PKG):
        for f in files:
            if f.endswith(".py"):
                path = os.path.join(root, f)
                found += _bare_persists(path, os.path.relpath(path, PKG))
    assert not found, f"persist outside a CacheScope: {found}"
