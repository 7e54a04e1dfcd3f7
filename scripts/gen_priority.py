#!/usr/bin/env python
"""Generate the driver-gate priority order mechanically from staleness.

Round 6 shipped four rewrites whose driver rows predated the rewrite;
the round-6 verdict demanded the policy become code. This script
derives, for every registered query:

* ``last_green_round`` — the newest ``CORRECTNESS_r*.json`` round whose
  row has no error and ``rows_match`` true (``level`` records whether
  that row was a hash match or rows-only);
* ``rewritten_since`` — whether the query's implementation changed
  after that round's artifact commit, at this granularity:
  - the query function's own line range (``git log -L`` traced),
  - its oracle SQL constant's line range,
  - every ``pywrangler_spark`` module the function imports locally,
  - every ``pywrangler_spark`` module its defining module imports at
    module level (shared helpers like ``functions.text.token_count``).

Order emitted to ``pywrangler_spark/queries/_priority.py`` (imported by
the registry) and recorded in ``artifacts/rows_age.json``:

1. never-green queries (registry order),
2. everything else by OLDEST green round first; within a vintage,
   rewritten-since-green rows lead (registry order tiebreak) — so the
   driver's 50-query prefix window drains the stalest evidence every
   round, and a wide refactor can no longer starve old rows out of
   the window by marking half the registry rewritten (the r9
   verdict's rotation finding).

Run per round after code changes: ``python scripts/gen_priority.py``.

ORDER OF OPERATIONS (the r10 verdict's finding #2): the freshness
ledger must be stamped POST-GATE — i.e. run this script only *after*
the driver's ``CORRECTNESS_r{N}.json`` for the round being summarized
is committed, so ``rounds_seen`` includes that round and
``last_green_round`` reflects the window it claims to describe. A
pre-gate run silently describes the previous round's world. At round
N+1 start: (1) confirm ``CORRECTNESS_r{N}.json`` is committed, (2) run
this script, (3) commit ``artifacts/rows_age.json`` + ``_priority.py`` before
any code change that would mark rows rewritten.
"""

from __future__ import annotations

import ast
import glob
import inspect
import json
import os
import re
import subprocess
import sys
import textwrap

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def git(*args: str) -> str:
    return subprocess.run(
        ["git", *args], cwd=REPO, capture_output=True, text=True
    ).stdout.strip()


def round_commits() -> dict[int, str]:
    out = {}
    for path in sorted(glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json"))):
        name = os.path.basename(path)
        rnd = int(re.search(r"r(\d+)", name).group(1))
        log = git("log", "--diff-filter=A", "--format=%H", "--", name)
        if log:
            out[rnd] = log.splitlines()[-1]
    return out


def green_rows() -> dict[str, tuple[int, str]]:
    """query -> (latest green round, 'hash'|'rows')."""
    best: dict[str, tuple[int, str]] = {}
    # sort by parsed round number, not lexicographically: from round 10 on
    # 'r10' sorts between 'r1' and 'r2' and a name-ordered overwrite would
    # regress the latest-green round
    paths = sorted(
        glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json")),
        key=lambda p: int(re.search(r"r(\d+)", os.path.basename(p)).group(1)),
    )
    for path in paths:
        rnd = int(re.search(r"r(\d+)", os.path.basename(path)).group(1))
        with open(path) as fh:
            rows = json.load(fh)
        for name, row in rows.items():
            if row.get("err") is None and row.get("rows_match"):
                level = "hash" if row.get("hash_match") else "rows"
                prev = best.get(name)
                if prev is None or rnd > prev[0]:
                    best[name] = (rnd, level)
    return best


def module_file(modname: str) -> str | None:
    rel = modname.replace(".", "/")
    for cand in (f"{rel}.py", f"{rel}/__init__.py"):
        if os.path.exists(os.path.join(REPO, cand)):
            return cand
    return None


def import_specs(tree: ast.AST) -> set[tuple[str, frozenset | None]]:
    """(module, imported-names) pairs for pywrangler imports; names is
    None for whole-module imports / star imports."""
    specs: set[tuple[str, frozenset | None]] = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and node.module:
            if node.module.startswith("pywrangler_spark"):
                names = frozenset(a.name for a in node.names)
                specs.add(
                    (node.module, None if "*" in names else names)
                )
        elif isinstance(node, ast.Import):
            for alias in node.names:
                if alias.name.startswith("pywrangler_spark"):
                    specs.add((alias.name, None))
    return specs


def resolve_spec(
    module: str, names: frozenset | None, seen: frozenset = frozenset()
) -> set[str]:
    """Implementation files a ``from module import names`` depends on.

    A package ``__init__.py`` that only re-exports is not an
    implementation: follow each imported name through to the module
    that provides it. The registry module (queries/__init__.py) is
    ordering metadata, never a dep."""
    relfile = module_file(module)
    if relfile is None or relfile in seen:
        return set()
    if relfile == "pywrangler_spark/queries/__init__.py":
        return set()
    if os.path.basename(relfile) != "__init__.py":
        return {relfile}
    with open(os.path.join(REPO, relfile)) as fh:
        tree = ast.parse(fh.read())
    pure = all(
        isinstance(n, (ast.Import, ast.ImportFrom, ast.Assign))
        or (isinstance(n, ast.Expr) and isinstance(n.value, ast.Constant))
        for n in tree.body
    )
    if not pure:
        return {relfile}
    provider: dict[str, str] = {}
    for node in tree.body:
        if isinstance(node, ast.ImportFrom) and node.module:
            for alias in node.names:
                provider[alias.asname or alias.name] = node.module
    out: set[str] = set()
    unmatched = False
    for name in names if names is not None else provider.keys():
        if name in provider:
            out |= resolve_spec(provider[name], None, seen | {relfile})
        else:
            unmatched = True
    if unmatched or names is None and not provider:
        out.add(relfile)
    return out


class ModuleIndex:
    """Per queries-module AST facts: oracle constant ranges, module-level
    pywrangler imports."""

    def __init__(self, relfile: str):
        with open(os.path.join(REPO, relfile)) as fh:
            self.tree = ast.parse(fh.read())
        self.relfile = relfile
        self.assign_ranges: dict[str, tuple[int, int]] = {}
        for node in self.tree.body:
            if isinstance(node, ast.Assign):
                for tgt in node.targets:
                    if isinstance(tgt, ast.Name):
                        self.assign_ranges[tgt.id] = (
                            node.lineno,
                            node.end_lineno,
                        )
        self.top_specs = import_specs(
            ast.Module(
                body=[
                    n
                    for n in self.tree.body
                    if isinstance(n, (ast.Import, ast.ImportFrom))
                ],
                type_ignores=[],
            )
        )
        # query name -> oracle constant name (from @register decorators)
        self.oracle_const: dict[str, str] = {}
        for node in ast.walk(self.tree):
            if not isinstance(node, ast.FunctionDef):
                continue
            for dec in node.decorator_list:
                if not (
                    isinstance(dec, ast.Call)
                    and getattr(dec.func, "id", None) == "register"
                ):
                    continue
                qname = None
                if dec.args and isinstance(dec.args[0], ast.Constant):
                    qname = dec.args[0].value
                oracle = None
                for kw in dec.keywords:
                    if kw.arg == "oracle" and isinstance(kw.value, ast.Name):
                        oracle = kw.value.id
                if qname and oracle:
                    self.oracle_const[qname] = oracle


def range_changed(since: str, relfile: str, start: int, end: int) -> bool:
    out = subprocess.run(
        [
            "git", "log", f"{since}..HEAD", "-s", "--format=%H",
            "-L", f"{start},{end}:{relfile}",
        ],
        cwd=REPO, capture_output=True, text=True,
    )
    return bool(out.stdout.strip())


def files_changed(since: str, files: set[str]) -> bool:
    if not files:
        return False
    return bool(git("log", f"{since}..HEAD", "--format=%H", "--", *sorted(files)))


def main() -> int:
    from pywrangler_spark.queries import QUERIES

    rounds = round_commits()
    greens = green_rows()
    indexes: dict[str, ModuleIndex] = {}
    report: dict[str, dict] = {}

    for idx, (name, fn) in enumerate(QUERIES.items()):
        src_file = os.path.relpath(inspect.getsourcefile(fn), REPO)
        entry: dict = {"registry_index": idx, "module": src_file}
        green = greens.get(name)
        if green is None:
            entry.update(last_green_round=None, level=None,
                         rewritten_since=None)
            report[name] = entry
            continue
        rnd, level = green
        entry.update(last_green_round=rnd, level=level)
        since = rounds.get(rnd)
        if since is None:
            entry["rewritten_since"] = True  # unknown provenance: rotate
            report[name] = entry
            continue

        if src_file not in indexes:
            indexes[src_file] = ModuleIndex(src_file)
        midx = indexes[src_file]

        lines, start = inspect.getsourcelines(fn)
        fn_tree = ast.parse(textwrap.dedent("".join(lines)))
        dep_files: set[str] = set()
        for mod, names in import_specs(fn_tree) | midx.top_specs:
            dep_files |= resolve_spec(mod, names)
        changed = range_changed(since, src_file, start, start + len(lines) - 1)
        if not changed and name in midx.oracle_const:
            rng = midx.assign_ranges.get(midx.oracle_const[name])
            if rng:
                changed = range_changed(since, src_file, *rng)
        if not changed:
            changed = files_changed(since, dep_files)
        entry["rewritten_since"] = changed
        entry["deps"] = sorted(dep_files)
        report[name] = entry

    def sort_key(name: str):
        # Never-green first, then OLDEST green round first — rewritten
        # rows are bumped only WITHIN their vintage. The old policy
        # (all rewritten before all stale) let a wide refactor mark
        # half the registry rewritten and starve the stalest rows out
        # of the 50-row window for rounds on end (the r9 verdict's
        # finding #1: 11 rows stuck at r5). Vintage-first drains the
        # oldest evidence every round no matter how much code moved;
        # a rewritten row still reaches the gate ahead of unmodified
        # peers of the same age, and the local full-registry
        # check_correctness pass covers whatever escapes the window.
        e = report[name]
        if e["last_green_round"] is None:
            return (0, 0, 0, e["registry_index"])
        return (
            1,
            e["last_green_round"],
            0 if e["rewritten_since"] else 1,
            e["registry_index"],
        )

    order = sorted(report, key=sort_key)

    with open(os.path.join(REPO, "artifacts/rows_age.json"), "w") as fh:
        json.dump(
            {
                "generated_at_head": git("rev-parse", "HEAD"),
                "rounds_seen": sorted(rounds),
                "queries": report,
            },
            fh, indent=1, sort_keys=True,
        )
        fh.write("\n")

    gen = [
        '"""GENERATED by scripts/gen_priority.py — do not edit.',
        "",
        "Driver-gate evaluation order: never-green queries first, then",
        "oldest-green-round first (rewritten-since-green rows lead",
        "within a vintage). Regenerate each round after code changes.",
        '"""',
        "",
        "_PRIORITY = [",
    ]
    for name in order:
        e = report[name]
        tag = (
            "never-green"
            if e["last_green_round"] is None
            else f"r{e['last_green_round']}"
            + ("/rewritten" if e["rewritten_since"] else "")
        )
        gen.append(f"    {name!r},  # {tag}")
    gen.append("]")
    with open(
        os.path.join(REPO, "pywrangler_spark", "queries", "_priority.py"), "w"
    ) as fh:
        fh.write("\n".join(gen) + "\n")

    n_never = sum(1 for e in report.values() if e["last_green_round"] is None)
    n_rw = sum(1 for e in report.values() if e.get("rewritten_since"))
    print(
        f"{len(report)} queries: {n_never} never-green, "
        f"{n_rw} rewritten-since-green; head of order: {order[:12]}"
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
