"""Tests for the Pipeline layer, plan introspection, and profilers."""

import time

import pytest
from pyspark.sql import functions as F

from pywrangler_spark import IntervalIdentifier, identify_intervals
from pywrangler_spark.benchmark import (
    MemoryProfiler,
    SparkTimeProfiler,
    TimeProfiler,
)
from pywrangler_spark.pipeline import Pipeline
from pywrangler_spark.plans import (
    codegen_stage_count,
    count_exchanges,
    explain_string,
    scan_info,
)
from pywrangler_spark.sources import read_parquet

SF = "/root/testdata/sf0.001"


def add_double(df, factor=2.0):
    """Double the value column."""
    return df.withColumn("value2", F.col("value") * factor)


def drop_props(df):
    return df.drop("props")


@pytest.fixture()
def events(spark):
    return read_parquet(spark, f"{SF}/events.parquet")


class TestPipeline:
    def make(self):
        wrangler = IntervalIdentifier(
            marker_column="event_type",
            marker_start="signup",
            marker_end="purchase",
            orderby_columns="ts",
            groupby_columns="user_id",
        )
        return Pipeline([add_double, drop_props, wrangler])

    def test_transform_composes(self, spark, events):
        out = self.make().transform(events)
        assert "iids" in out.columns
        assert "value2" in out.columns
        assert "props" not in out.columns
        assert out.count() == events.count()

    def test_stage_access_by_index_name_fuzzy(self, spark, events):
        p = self.make()
        assert p[0].name == "add_double"
        assert p["drop_props"].name == "drop_props"
        assert p["interval"].name == "IntervalIdentifier"  # fuzzy
        assert p[-1].name == "IntervalIdentifier"
        with pytest.raises(ValueError, match="no stage matches"):
            p["bogus"]
        with pytest.raises(ValueError, match="ambiguous"):
            Pipeline([add_double, add_double])["add"]

    def test_params_extraction(self):
        p = self.make()
        assert p[0].params == {"factor": 2.0}
        assert p[2].params["marker_start"] == "signup"
        assert p[0].doc.startswith("Double the value")

    def test_intermediate_df_access(self, spark, events):
        p = self.make()
        with pytest.raises(RuntimeError, match="transform"):
            p(0)
        p.transform(events)
        assert "value2" in p(0).columns
        assert "props" not in p("drop_props").columns
        assert "iids" in p(2).columns

    def test_caching_control(self, spark, events):
        p = self.make()
        p.cacher.enable("drop_props")
        assert p.cacher.enabled_indices == [1]
        p.transform(events)
        assert p(1).is_cached
        p.cacher.clear()
        assert not p(1).is_cached
        assert p.cacher.enabled_indices == []

    def test_describe_and_profile(self, spark, events):
        p = self.make()
        p.transform(events)
        desc = p.describe()
        assert [d["name"] for d in desc] == [
            "add_double",
            "drop_props",
            "IntervalIdentifier",
        ]
        prof = p.profile()
        assert all(r["rows"] == events.count() for r in prof)
        assert prof[0]["exchanges"] == 0  # projection only
        assert prof[2]["exchanges"] == 1  # single-window operator
        assert all(r["seconds"] >= 0 for r in prof)

    def test_ml_transformer_stage(self, spark, events):
        from pyspark.ml.feature import SQLTransformer

        p = Pipeline(
            [SQLTransformer(statement="SELECT *, value * 2 AS v2 FROM __THIS__")]
        )
        out = p.transform(events)
        assert "v2" in out.columns
        assert p[0].name == "SQLTransformer"


class TestPlanInspection:
    def test_explain_and_exchange_count(self, spark, events):
        zero = events.select("event_id")
        assert count_exchanges(zero) == 0
        one = events.transform(
            identify_intervals(
                marker_column="event_type",
                marker_start="signup",
                marker_end="purchase",
                orderby_columns="ts",
                groupby_columns="user_id",
            )
        )
        assert count_exchanges(one) == 1  # the headline claim
        assert "Exchange" in explain_string(one)

    def test_scan_info_pushdown(self, spark, events):
        df = events.filter(F.col("user_id") == 3).select("event_id", "user_id")
        scans = scan_info(df)
        assert scans, "no scan found"
        assert "user_id" in scans[0].get("pushed_filters", "")
        read = scans[0].get("read_schema", "")
        assert "event_id" in read and "props" not in read

    def test_codegen_stage_count(self, spark, events):
        assert codegen_stage_count(events.select("event_id")) >= 1


class TestStageCacheLifecycle:
    def test_clear_releases_dedup_signature_caches(
        self, spark, persistent_rdds
    ):
        """A pipeline containing a minhash stage must leave zero
        persisted RDDs behind after cacher.clear() — the stage-owned
        signature cache joins the same consume-then-clear lifecycle as
        the pipeline's own stage caches."""
        from pywrangler_spark.operators.dedup import MinHashLSHPairs

        docs = read_parquet(
            spark, "/root/testdata/sf0.001/documents.parquet"
        ).select("doc_id", "text")
        # delta-based: the shared test session may carry other tests'
        # caches; this pipeline must add none of its own after clear()
        before = persistent_rdds()
        op = MinHashLSHPairs("doc_id", "text", num_hashes=8, bands=4)
        pipe = Pipeline([op])
        out = pipe.transform(docs)
        out.count()  # consume the result while the cache is live
        assert persistent_rdds() - before  # the stage really persisted
        pipe.cacher.clear()
        assert persistent_rdds() - before == set()

    def test_clear_releases_every_transform_since_last_clear(
        self, spark, persistent_rdds
    ):
        """Re-transform with a cached stage, then one clear(): the
        first transform's stage cache must not survive."""
        before = persistent_rdds()
        pipe = Pipeline([lambda df: df.selectExpr("id * 2 AS x")])
        pipe.cacher.enable(0)
        pipe.transform(spark.range(10)).count()
        pipe.transform(spark.range(20)).count()
        assert len(persistent_rdds() - before) == 2
        pipe.cacher.clear()
        assert persistent_rdds() - before == set()


class TestProfilers:
    def test_time_profiler_stats(self):
        calls = []
        prof = TimeProfiler(lambda: calls.append(1), runs=4).profile()
        assert len(calls) == 4
        rep = prof.report()
        assert rep["best"] <= rep["median"] <= rep["worst"]
        assert rep["runs"] == 4

    def test_spark_time_profiler(self, spark, events):
        prof = SparkTimeProfiler(
            lambda df: df.groupBy("user_id").count(), runs=2
        ).profile(events)
        assert len(prof.timings) == 2 and prof.best > 0

    def test_spark_time_profiler_cached_input(self, spark, events):
        prof = SparkTimeProfiler(
            lambda df: df.groupBy("user_id").count(),
            runs=2,
            cache_input=True,
        ).profile(events)
        assert prof.best > 0
        assert not events.is_cached  # unpersisted afterwards

    def test_memory_profiler(self):
        # The allocation must stay live across several sampler intervals
        # (pages touched so the RSS actually grows), otherwise a loaded
        # host can free it before the 5 ms sampler ever observes it.
        interval = 0.005

        def allocate():
            block = bytearray(64 * 1024 * 1024)
            step = 4096
            for i in range(0, len(block), step):  # commit every page
                block[i] = 1
            time.sleep(interval * 10)  # hold across >=10 sampler ticks
            return len(block)

        prof = MemoryProfiler(allocate, runs=2, interval=interval).profile()
        rep = prof.report()
        assert rep["max_increase_bytes"] > 32 * 1024 * 1024


class TestStageTotals:
    """The one fold of ``/stages`` records, on synthetic records (no UI)."""

    def test_sums_and_peaks(self):
        from pywrangler_spark.benchmark import stage_totals

        stages = [
            # stage peaks are SUMS of task peaks: 16 tasks at 100 each
            {"peakExecutionMemory": 1600, "numCompleteTasks": 16,
             "memoryBytesSpilled": 10, "diskBytesSpilled": 5,
             "shuffleReadBytes": 100, "shuffleWriteBytes": 200},
            {"peakExecutionMemory": 300, "numCompleteTasks": 1,
             "shuffleReadBytes": 1, "shuffleWriteBytes": 2},
        ]
        assert stage_totals(stages, slots=4) == {
            "n_stages": 2,
            "peak_execution_memory": 1600,
            # 1600 / 16 tasks x 4 slots beats 300 / 1 task x 1
            "peak_execution_memory_norm": 400.0,
            "memory_bytes_spilled": 10,
            "disk_bytes_spilled": 5,
            "shuffle_read_bytes": 101,
            "shuffle_write_bytes": 202,
        }

    def test_no_stages(self):
        from pywrangler_spark.benchmark import stage_totals

        totals = stage_totals([], slots=4)
        assert totals.pop("n_stages") == 0
        assert set(totals.values()) == {0}

    def test_ui_api(self, spark):
        from pywrangler_spark.benchmark import ui_api

        # the shared test session runs with spark.ui.enabled=false
        assert ui_api(spark) is None
        app = spark.sparkContext.applicationId
        assert ui_api(spark, "http://history:18080") == (
            f"http://history:18080/api/v1/applications/{app}"
        )


class TestExecutorMemoryProfiler:
    def test_requires_live_ui(self, spark):
        from pywrangler_spark.benchmark import SparkExecutorMemoryProfiler

        # the shared test session runs with spark.ui.enabled=false
        with pytest.raises(RuntimeError, match="spark.ui.enabled"):
            SparkExecutorMemoryProfiler(spark, lambda: None)

    def test_peak_execution_memory_on_shuffle(self):
        """Executor-metrics tier end-to-end: needs its own UI-enabled
        SparkContext (a static conf), so it runs in a subprocess."""
        import json
        import subprocess
        import sys

        code = """
import json, sys
sys.path.insert(0, %r)
from pywrangler_spark.session import get_spark
from pywrangler_spark.benchmark import SparkExecutorMemoryProfiler

spark = get_spark(
    "exec-mem-test", master="local[4]", shuffle_partitions=4,
    extra_conf={"spark.ui.enabled": "true", "spark.ui.port": "4789"},
)
spark.sparkContext.setLogLevel("ERROR")

def shuffle_heavy():
    (spark.range(0, 2_000_000)
        .selectExpr("cast(id as string) as s", "id %% 13 as k")
        .orderBy("s")
        .write.format("noop").mode("overwrite").save())

prof = SparkExecutorMemoryProfiler(spark, shuffle_heavy, runs=1).profile()
rep = prof.report()
rep["executor_ids"] = [e["id"] for e in rep.pop("executor_peaks")]
print("RESULT:" + json.dumps(rep))
"""
        import os

        repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        out = subprocess.run(
            [sys.executable, "-c", code % repo],
            capture_output=True,
            text=True,
            timeout=180,
        )
        line = [l for l in out.stdout.splitlines() if l.startswith("RESULT:")]
        assert line, out.stdout[-2000:] + out.stderr[-2000:]
        rep = json.loads(line[0][len("RESULT:"):])
        # a 2M-row global sort must register unsafe execution memory on
        # its stages, and the range partitioner must have shuffled bytes
        assert rep["peak_execution_memory"] > 8 * 1024 * 1024, rep
        assert rep["shuffle_write_bytes"] > 0, rep
        assert rep["executor_ids"] == ["driver"]  # local mode
