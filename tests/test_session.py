"""``session.get_spark`` is the one place a session's configuration is
written: no other module under the package, its scripts, tests or the
bench harness builds a session by hand, a local session's driver heap is
half the host's memory, and the test session gets the heap it asks for.
``perfbench/`` (the benchmark's own files) is not scanned."""

import os

import pytest

from pywrangler_spark.session import local_driver_memory

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SESSION = os.path.join("pywrangler_spark", "session.py")


def _sources():
    yield "bench.py"
    for top in ("pywrangler_spark", "scripts", "tests"):
        for root, _, files in os.walk(os.path.join(REPO, top)):
            for name in files:
                if name.endswith(".py"):
                    yield os.path.relpath(os.path.join(root, name), REPO)


def test_only_session_module_builds_a_session():
    needle = "SparkSession." + "builder"
    hits = []
    for rel in _sources():
        with open(os.path.join(REPO, rel)) as fh:
            if needle in fh.read():
                hits.append(rel)
    assert hits == [SESSION]


@pytest.mark.parametrize(
    "mem_total_kb, heap",
    [
        (16479424, "7g"),  # 15.7 GiB host
        (2 * 2**20, "1g"),  # exactly 2 GiB
        (2 * 2**20 - 1, "1g"),  # below 2 GiB: rounds down, held at 1g
        (1000, "1g"),
        (64 * 2**20, "32g"),
    ],
)
def test_local_driver_memory_is_half_of_memtotal(mem_total_kb, heap):
    meminfo = (
        f"MemTotal:       {mem_total_kb} kB\n"
        "MemFree:          123456 kB\n"
        "MemAvailable:    9876543 kB\n"
    )
    assert local_driver_memory(meminfo) == heap


def test_fixture_session_runs_the_heap_it_asked_for(spark):
    assert spark.sparkContext.getConf().get("spark.driver.memory") == "4g"
    # the JVM was launched with it, not just handed the key
    max_heap = spark.sparkContext._jvm.java.lang.Runtime.getRuntime().maxMemory()
    assert 3 * 2**30 < max_heap <= 4 * 2**30
