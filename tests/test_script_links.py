"""Every ``scripts/<name>.py`` path the README, the verify skill, the
library or the tests name must exist (retired probes are listed, with
the command that recovers them, in SCALE.md "Retired probes")."""

import glob
import os
import re

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
