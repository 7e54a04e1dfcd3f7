"""Every path and section that a living document or a source file names
must exist, and every file under ``artifacts/`` must be named by one.

Living documents are ``LIVING`` plus the verify skill; source files are
the ``.py`` files of ``SOURCE_TREES`` and ``bench.py``, read through
their strings and comments only (an attribute named ``json`` in code is
not a file). A reference is one of:

- a ``*.json`` or ``*.md`` path, or a ``scripts/*.py`` path, relative to
  the repo root. A brace list expands; ``*``, a one-word brace and an
  angle-bracket placeholder are wildcards that must match some tracked
  file;
- ``<commit>:<path>``, as in ``git show 860ddaf:SCALE.md``: the path must
  exist at that commit;
- a quoted section after ``SCALE.md``, as in SCALE.md "Retired probes"
  (which lists the retired probe scripts and how to recover them), or
  SCALE.md's own references to its sections: SCALE.md must have that
  heading.

The records of past rounds (VERDICT.md, ADVICE.md, BASELINE.md,
CHANGES.md) describe the tree they were written against and are not
checked, nor are the planning and literature notes, which quote other
repositories. Every root ``*.json`` must be a run record
(``RUN_RECORDS``): measurement evidence lives under ``artifacts/``.
"""

import fnmatch
import io
import os
import re
import subprocess
import tokenize

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

LIVING = ("README.md", "SCALE.md", "COVERAGE.md", "FIXTURES.md", "TESTDATA.md")
SKILL = ".claude/skills/verify/SKILL.md"
SOURCE_TREES = ("pywrangler_spark", "scripts", "tests")
# records the benchmark and correctness runs write themselves at the root
RUN_RECORDS = (
    "BENCH_r*", "CORRECTNESS_r*", "PERF_r*", "VERIFY_r*", "BASELINE.*",
    "bench_full.json", "BENCHMARK.json",
)
# files the program writes outside the repo, named by their base name:
# make_scale.py's record in each scaled data dir
OUTSIDE_REPO = ("_scale_meta.json",)
# the gitignored directory of run outputs (bench.py --ab / --isolated
# records): its files exist only after a run
RUN_OUTPUT_DIR = ".scratch/"

_PART = r"[\w.<>{}*,-]"
_PATH = rf"(?:{_PART}+/)*[\w<>{{}}*,-]+\.(?:json|md|py|txt)"
PATH = re.compile(rf"(?<![\w./<>{{}}*:-])({_PATH})(?![\w/]|\.\w)")
REV_PATH = re.compile(rf"\b([0-9a-f]{{7,40}}):({_PATH})")
ARTIFACT = re.compile(rf"(?<![\w./-])(artifacts/{_PATH})")
SECTION = re.compile(r'SCALE\.md\s+"([^"]+)"')
# SCALE.md's references to its own sections: "see ..." and the first
# column of the "Retired probes" table
SELF_SECTION = re.compile(r'(?:^\| |\bsee )"([^"]+)"', re.M)


def _tracked(*patterns):
    return subprocess.check_output(
        ["git", "-C", REPO, "ls-files", "--", *patterns], text=True
    ).split()


def _expand(pattern):
    """Brace expansion: ``artifacts/bench_full_sf{1,10}.json`` names the
    sf1 and the sf10 file. A brace without a comma and an angle-bracket
    placeholder become ``*``."""
    pattern = re.sub(r"<[^<>]*>|\{[^{},]*\}", "*", pattern)
    m = re.search(r"\{([^{}]*)\}", pattern)
    if not m:
        return [pattern]
    head, tail = pattern[: m.start()], pattern[m.end():]
    return [
        x for alt in m.group(1).split(",") for x in _expand(head + alt + tail)
    ]


def _python_text(path):
    """The strings and comments of a Python file; consecutive comment
    lines join into one text, so a reference may wrap."""
    parts, comment = [], []
    with open(path, encoding="utf-8") as fh:
        for tok in tokenize.generate_tokens(io.StringIO(fh.read()).readline):
            if tok.type == tokenize.COMMENT:
                comment.append(tok.string.lstrip("#").strip())
                continue
            if tok.type not in (tokenize.NL, tokenize.NEWLINE) and comment:
                parts.append(" ".join(comment))
                comment = []
            if tok.type == tokenize.STRING:
                parts.append(tok.string)
    parts.append(" ".join(comment))
    return "\n".join(parts)


def _texts():
    """``{relative path: checked text}`` for every living doc and source."""
    texts = {}
    for doc in (*LIVING, SKILL):
        if os.path.exists(os.path.join(REPO, doc)):
            with open(os.path.join(REPO, doc), encoding="utf-8") as fh:
                texts[doc] = fh.read()
    for src in _tracked(*(f"{t}/*.py" for t in SOURCE_TREES)) + ["bench.py"]:
        texts[src] = _python_text(os.path.join(REPO, src))
    return texts


def _resolves(pattern, tracked):
    if "*" in pattern:
        return any(fnmatch.fnmatchcase(t, pattern) for t in tracked)
    return os.path.exists(os.path.join(REPO, pattern))


def dangling(texts):
    """``{(where, reference)}`` for every reference in ``texts`` that
    does not resolve."""
    tracked = _tracked()
    with open(os.path.join(REPO, "SCALE.md"), encoding="utf-8") as fh:
        headings = {
            line.lstrip("#").strip()
            for line in fh if line.startswith("#")
        }
    bad = set()
    for where, text in texts.items():
        for rev, path in REV_PATH.findall(text):
            for p in _expand(path):
                spec = f"{rev}^{{commit}}" if "*" in p else f"{rev}:{p}"
                ok = subprocess.run(
                    ["git", "-C", REPO, "cat-file", "-e", spec],
                    capture_output=True,
                ).returncode == 0
                if not ok:
                    bad.add((where, f"{rev}:{p}"))
        text = REV_PATH.sub("", text)
        for path in PATH.findall(text):
            ext = path.rsplit(".", 1)[1]
            if ext in ("py", "txt") and not path.startswith(
                ("scripts/", "artifacts/")
            ):
                continue
            if (os.path.basename(path) in OUTSIDE_REPO
                    or path.startswith(RUN_OUTPUT_DIR)):
                continue
            for p in _expand(path):
                if not _resolves(p, tracked):
                    bad.add((where, p))
        sections = SECTION.findall(text)
        if where == "SCALE.md":
            sections += SELF_SECTION.findall(text)
        for heading in sections:
            heading = " ".join(heading.split())
            if heading not in headings:
                bad.add((where, f"SCALE.md section {heading!r}"))
    return bad


def test_named_paths_and_sections_exist():
    texts = _texts()
    assert len(texts) > len(LIVING), "no sources found; the listing is stale"
    bad = dangling(texts)
    assert not bad, sorted(bad)


def test_root_json_is_run_records_only():
    stray = [
        p for p in _tracked("*.json")
        if "/" not in p
        and not any(fnmatch.fnmatchcase(p, r) for r in RUN_RECORDS)
    ]
    assert not stray, f"measurement artifacts belong under artifacts/: {stray}"


def test_every_artifact_is_cited():
    """A file under ``artifacts/`` backs some claim, so a living doc or
    source names it — in full or by a pattern such as
    ``artifacts/bench_span_sf{10,100}_r11.json``. One that nothing names
    backs no claim: delete it (git keeps it)."""
    artifacts = _tracked("artifacts/*")
    assert artifacts, "no artifacts found; the listing is stale"
    cited = {
        p
        for text in _texts().values()
        for path in ARTIFACT.findall(text)
        for p in _expand(path)
    }
    orphans = [
        a for a in artifacts
        if not any(fnmatch.fnmatchcase(a, c) for c in cited)
    ]
    assert not orphans, orphans
