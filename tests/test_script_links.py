"""Every ``scripts/<name>.py`` path the README, the verify skill, the
library or the tests name must exist (retired probes are listed, with
the command that recovers them, in SCALE.md "Retired probes"), and
every root ``*.json`` artifact must be named by some document or source
file."""

import fnmatch
import glob
import os
import re
import subprocess

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCRIPT_PATH = re.compile(r"scripts/(\w+)\.py")


def _sources():
    yield os.path.join(REPO, "README.md")
    skill = os.path.join(REPO, ".claude", "skills", "verify", "SKILL.md")
    if os.path.exists(skill):
        yield skill
    for tree in ("pywrangler_spark", "tests"):
        yield from glob.glob(os.path.join(REPO, tree, "**", "*.py"), recursive=True)


def test_named_scripts_exist():
    named = {}
    for path in _sources():
        with open(path, encoding="utf-8") as fh:
            for name in SCRIPT_PATH.findall(fh.read()):
                named.setdefault(name, os.path.relpath(path, REPO))
    assert named, "no script paths found; the pattern is stale"
    missing = {
        f"scripts/{name}.py": where
        for name, where in named.items()
        if not os.path.exists(os.path.join(REPO, "scripts", f"{name}.py"))
    }
    assert not missing, missing


# records the benchmark and correctness runs write themselves; they are
# read by the tooling that writes them, not cited in prose
RUN_RECORDS = (
    "BENCH_r*", "CORRECTNESS_r*", "PERF_r*", "VERIFY_r*", "BASELINE.*",
    "bench_full.json", "BENCHMARK.json",
)
JSON_NAME = re.compile(r"[\w.*?{},\[\]-]*\.json(?!\w)")


def _expand(pattern):
    """Brace expansion: ``a_sf{1,10}.json`` -> ``a_sf1.json``, ``a_sf10.json``."""
    m = re.search(r"\{([^{}]*)\}", pattern)
    if not m:
        return [pattern]
    head, tail = pattern[: m.start()], pattern[m.end():]
    return [x for alt in m.group(1).split(",") for x in _expand(head + alt + tail)]


def _tracked(*patterns):
    return subprocess.check_output(
        ["git", "-C", REPO, "ls-files", "--", *patterns], text=True
    ).split()


def test_root_json_artifacts_are_named():
    """A root ``*.json`` is an artifact behind some claim, so a tracked
    ``.md`` or ``.py`` file must name it — in full or by a brace/glob
    pattern such as ``bench_span_sf{10,100}_r11.json`` or
    ``bench_cdc_probe*.json`` (a bare ``*.json`` names nothing). One
    that nothing names backs no claim: delete it (git keeps it)."""
    names = set()
    for path in _tracked("*.md", "*.py"):
        with open(os.path.join(REPO, path), encoding="utf-8") as fh:
            for token in JSON_NAME.findall(fh.read()):
                names.update(
                    p for p in _expand(os.path.basename(token))
                    if re.search(r"\w", p[: -len(".json")])
                )
    artifacts = [p for p in _tracked("*.json") if "/" not in p]
    assert artifacts, "no root json found; the listing is stale"
    orphans = [
        a for a in artifacts
        if not any(fnmatch.fnmatchcase(a, r) for r in RUN_RECORDS)
        and not any(fnmatch.fnmatchcase(a, n) for n in names)
    ]
    assert not orphans, orphans
