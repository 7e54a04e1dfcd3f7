

class TestColumnCacher:
    def test_lazy_adds_only_final(self, spark):
        from pyspark.sql import functions as F

        from pywrangler_spark.util import ColumnCacher

        df = spark.range(3)
        cc = ColumnCacher(df, mode="lazy")
        a = cc.add("a", F.col("id") + 1)
        b = cc.add("b", a * 2)
        out = cc.finish("result", b)
        assert out.columns == ["id", "result"]
        assert [r.result for r in out.orderBy("id").collect()] == [2, 4, 6]

    def test_debug_materializes_intermediates(self, spark):
        from pyspark.sql import functions as F

        from pywrangler_spark.util import ColumnCacher

        df = spark.range(3)
        cc = ColumnCacher(df, mode="debug")
        a = cc.add("a", F.col("id") + 1)
        cc.add("b", a * 2)
        out = cc.finish("result", F.col("b"))
        assert out.columns == ["id", "a", "b", "result"]

    def test_bad_mode_rejected(self):
        import pytest as _pytest

        from pywrangler_spark.util import ColumnCacher

        with _pytest.raises(ValueError, match="mode"):
            ColumnCacher(None, mode="eager")


class TestTieCachesToResult:
    """Cache lifetime tied to result DataFrames through
    ``CacheScope.tie``: the inline ``df.transform(Op(...))`` form
    discards the operator instance, so the scope's finalizer must
    unpersist one call's frames once the last DataFrame the scope is
    tied to is garbage-collected."""

    def test_gc_drains_caches(self, spark):
        import gc

        from pywrangler_spark.util import CacheScope

        scope = CacheScope()
        cached = scope.persist(spark.range(10))
        cached.count()
        result = scope.tie(cached.selectExpr("id * 2 AS x"))
        del scope  # only the result holds it now
        gc.collect()
        assert cached.storageLevel.useMemory  # live while result is
        del result
        gc.collect()
        assert not cached.storageLevel.useMemory

    def test_persist_keeps_storage_level(self, spark):
        from pyspark import StorageLevel

        from pywrangler_spark.util import CacheScope

        scope = CacheScope()
        df = scope.persist(spark.range(3), StorageLevel.DISK_ONLY)
        assert df.storageLevel == StorageLevel.DISK_ONLY
        scope.release()

    def test_two_results_keep_each_others_caches(self, spark):
        # two calls, two scopes: GC of the first result must unpersist
        # ONLY its own caches, not the second still-live result's
        import gc

        from pywrangler_spark.util import CacheScope

        s1, s2 = CacheScope(), CacheScope()
        c1 = s1.persist(spark.range(10))
        c1.count()
        r1 = s1.tie(c1.selectExpr("id AS x"))
        c2 = s2.persist(spark.range(20))
        c2.count()
        r2 = s2.tie(c2.selectExpr("id AS y"))
        del s1, s2

        del r1
        gc.collect()
        assert not c1.storageLevel.useMemory
        assert c2.storageLevel.useMemory  # r2 is still live
        del r2
        gc.collect()
        assert not c2.storageLevel.useMemory

    def test_explicit_release_first_is_noop(self, spark):
        import gc

        from pywrangler_spark.util import CacheScope

        scope = CacheScope()
        cached = scope.persist(spark.range(10))
        cached.count()
        result = scope.tie(cached.selectExpr("id AS x"))
        scope.release()  # blocking
        assert not cached.storageLevel.useMemory
        scope.release()  # idempotent
        del scope, result
        gc.collect()  # finalizer fires on the emptied scope: no-op

    def test_inline_operator_caches_freed(self, spark):
        import gc

        from pywrangler_spark.operators.similarity import (
            cosine_neardup_pairs,
        )

        df = spark.createDataFrame(
            [(1, [1.0, 0.0]), (2, [1.0, 0.0]), (3, [0.0, 1.0])],
            "id int, v array<double>",
        )
        # inline form: the instance is discarded immediately
        out = df.transform(cosine_neardup_pairs("id", "v", threshold=0.9))
        assert out.count() == 1

        def n_cached():
            return spark.sparkContext._jsc.sc().getPersistentRDDs().size()

        before = n_cached()
        assert before >= 1
        del out
        gc.collect()
        assert n_cached() < before

    def test_owner_holds_scopes_weakly(self, spark):
        """A cached operator's release() frees the caches of its calls
        that are still live; a call whose result was dropped has
        already drained, with the instance still alive."""
        import gc

        from pywrangler_spark.util import CacheOwner

        class Op(CacheOwner):
            def __call__(self, df):
                scope = self._open_scope()
                self.last = scope.persist(df.selectExpr("id + 1 AS id"))
                return scope.tie(self.last.selectExpr("id AS x"))

        op = Op()
        r1 = spark.range(5).transform(op)
        c1 = op.last
        r1.count()
        r2 = spark.range(7).transform(op)
        c2 = op.last
        r2.count()
        del r1
        gc.collect()
        assert not c1.storageLevel.useMemory  # drained by its own GC
        assert c2.storageLevel.useMemory
        op.release()
        assert not c2.storageLevel.useMemory
        assert r2.count() == 7  # recomputes from source

    def test_keep_alive_defers_drain_to_derived_result(self, spark):
        """The r12 derived-result trap: result.select(...) + drop of the
        transform result must NOT drain the caches when keep_alive
        carried the scope over; the drain fires when the DERIVED result
        dies."""
        import gc

        from pywrangler_spark.util import CacheScope, keep_alive

        scope = CacheScope()
        cached = scope.persist(spark.range(10))
        cached.count()
        result = scope.tie(cached.selectExpr("id * 2 AS x"))
        derived = keep_alive(result.selectExpr("x + 1 AS y"), result)
        del scope, result
        gc.collect()
        assert cached.storageLevel.useMemory  # derived still carries it
        assert derived.count() == 10
        del derived
        gc.collect()
        assert not cached.storageLevel.useMemory

    def test_keep_alive_stacks_sources(self, spark):
        import gc

        from pywrangler_spark.util import CacheScope, keep_alive

        s1, s2 = CacheScope(), CacheScope()
        c1 = s1.persist(spark.range(5))
        c1.count()
        r1 = s1.tie(c1.selectExpr("id AS x"))
        c2 = s2.persist(spark.range(7))
        c2.count()
        r2 = s2.tie(c2.selectExpr("id AS y"))
        derived = keep_alive(r1.crossJoin(r2), r1)
        derived = keep_alive(derived, r2)  # second call must stack
        del s1, s2, r1, r2
        gc.collect()
        assert c1.storageLevel.useMemory
        assert c2.storageLevel.useMemory
        del derived
        gc.collect()
        assert not c1.storageLevel.useMemory
        assert not c2.storageLevel.useMemory


class TestWideExchangeWidth:
    def test_declared_initial_width_wins_under_cap(self, spark):
        from pywrangler_spark.util import wide_exchange_width

        key = "spark.sql.adaptive.coalescePartitions.initialPartitionNum"
        old = spark.conf.get(key, None)
        try:
            # session.get_spark declares 8x slots; the
            # defaultParallelism-based cap (16x) sits above that, so
            # the declared width wins
            declared = 8 * spark.sparkContext.defaultParallelism
            spark.conf.set(key, str(declared))
            assert wide_exchange_width(spark) == declared
        finally:
            if old is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, old)

    def test_foreign_session_huge_initial_is_capped(self, spark):
        from pywrangler_spark.util import wide_exchange_width

        key = "spark.sql.adaptive.coalescePartitions.initialPartitionNum"
        old = spark.conf.get(key, None)
        try:
            # derive "huge" from the host's slot count so the 16x cap
            # is the binding term on any box (a hardcoded 8192 falls
            # under the cap on hosts with >512 cores)
            huge = 32 * spark.sparkContext.defaultParallelism
            spark.conf.set(key, str(huge))  # a common cluster tuning
            cap = 16 * spark.sparkContext.defaultParallelism
            assert wide_exchange_width(spark) == cap
        finally:
            if old is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, old)

    def test_never_below_shuffle_partitions(self, spark):
        from pywrangler_spark.util import wide_exchange_width

        key = "spark.sql.adaptive.coalescePartitions.initialPartitionNum"
        old = spark.conf.get(key, None)
        try:
            spark.conf.set(key, "2")
            base = int(spark.conf.get("spark.sql.shuffle.partitions"))
            assert wide_exchange_width(spark) == base
        finally:
            if old is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, old)

    def test_non_numeric_shuffle_partitions_falls_back(self):
        # some managed platforms set spark.sql.shuffle.partitions to
        # 'auto'; OSS Spark rejects setting it non-numeric at runtime,
        # so exercise the guard through a stub session
        from pywrangler_spark.util import wide_exchange_width

        class _Conf:
            def get(self, key):
                return {
                    "spark.sql.shuffle.partitions": "auto",
                    "spark.sql.adaptive.coalescePartitions"
                    ".initialPartitionNum": "64",
                }[key]

        class _SC:
            defaultParallelism = 8

        class _Spark:
            conf = _Conf()
            sparkContext = _SC()

        # base falls back to defaultParallelism (8); declared initial
        # 64 is under the 16x8 cap, so it wins
        assert wide_exchange_width(_Spark()) == 64

    def test_non_numeric_everything_falls_back_to_default(self):
        from pywrangler_spark.util import wide_exchange_width

        class _Conf:
            def get(self, key):
                if key == "spark.sql.shuffle.partitions":
                    return "auto"
                raise Exception("unset")

        class _Spark:  # Spark Connect shape: no sparkContext attribute
            conf = _Conf()

            @property
            def sparkContext(self):
                raise Exception("no sparkContext on Connect")

        # base -> 200 shipped default; initial -> base; cap -> initial
        assert wide_exchange_width(_Spark()) == 200


class TestBoundedFitCache:
    """Fit-once model caches are bounded (r12 verdict hygiene item):
    oldest-insert eviction, refreshed values don't evict, and the
    registry's model caches actually use the bounded type."""

    def test_evicts_oldest_insert(self):
        from pywrangler_spark.util import BoundedFitCache

        c = BoundedFitCache(maxsize=2)
        c["a"] = 1
        c["b"] = 2
        c["c"] = 3
        assert list(c) == ["b", "c"]

    def test_update_existing_key_does_not_evict(self):
        from pywrangler_spark.util import BoundedFitCache

        c = BoundedFitCache(maxsize=2)
        c["a"] = 1
        c["b"] = 2
        c["a"] = 9
        assert list(c) == ["a", "b"] and c["a"] == 9

    def test_get_or_fit_fits_once_per_key(self):
        from pywrangler_spark.util import BoundedFitCache

        c, fits = BoundedFitCache(maxsize=2), []
        fit = lambda: fits.append(1) or len(fits)  # noqa: E731
        assert [c.get_or_fit("a", fit), c.get_or_fit("a", fit)] == [1, 1]
        assert c.get_or_fit("b", fit) == 2 and len(fits) == 2

    def test_registry_model_caches_are_bounded(self):
        """Every module-level dict of ``pywrangler_spark.queries.*`` that
        is empty at import is a fit cache and must be bounded. Checked in
        a fresh interpreter: this process's queries may have filled them."""
        import os
        import subprocess
        import sys

        probe = """
import importlib, pkgutil
import pywrangler_spark.queries as q
from pywrangler_spark.util import BoundedFitCache
caches, unbounded = [], []
for info in pkgutil.iter_modules(q.__path__):
    mod = importlib.import_module(f"{q.__name__}.{info.name}")
    for name, value in vars(mod).items():
        if isinstance(value, dict) and not value and not name.startswith("__"):
            caches.append(f"{info.name}.{name}")
            if not isinstance(value, BoundedFitCache):
                unbounded.append(f"{info.name}.{name}")
print(len(caches), unbounded)
"""
        out = subprocess.run(
            [sys.executable, "-c", probe],
            capture_output=True, text=True, check=True,
            cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        ).stdout.split(maxsplit=1)
        assert int(out[0]) >= 6  # the ANN, classifier and BPE caches
        assert out[1].strip() == "[]", f"unbounded fit caches: {out[1]}"
