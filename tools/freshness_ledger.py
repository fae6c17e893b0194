"""Oracle freshness ledger — mechanical guard against stale driver evidence.

Round-3 VERDICT item 8: two queries (`dedup_minhash_lsh_pairs_capped` and
the batch KNN join) had their plans rewritten AFTER their last driver-green
row, so their correctness evidence was a round old. The driver checks only
the first 50 `queries()` entries (`_VERIFY_FIRST` in `__spark_entry__.py`),
so code drift on an off-window query is invisible until the next rotation.

This module converts that process risk into a red test:

- `tools/freshness_ledger.json` records, per query, the commit at which it
  was last driver-verified plus hashes of its definition and oracle SQL.
- A query's definition is the source of its function, of every entry
  function it reaches (module helpers such as `_docs`, `queries()`-local
  ones such as `_cents`, transitively) and of every module-level entry
  constant they read (`CORPUS_01 = corpus_dir_for(0.01)`). None of that
  embeds the checkout path; the oracle SQL is hashed with `<repo>/.corpus`
  as a fixed token. So a copy of the repo hashes alike.
- A query's closure is the set of repo files its definition runs. The walk
  resolves each name the definition loads through the function's globals
  and closure cells: a module is its file, and a function or class is its
  defining module's file. Function-local imports count too. It then
  follows every `import` in those files, transitively, across the repo
  (the package and `jobs/`). `import a.b.c` means `a/b/c.py`, not the
  parent `__init__.py` files.
- `check()` (wired into `tests/test_entry_contract.py`) fails when an
  OFF-window query's definition/oracle hash drifted from the ledger, or when
  any file in its closure changed — `git diff <ledger-commit> -- <closure>`
  against the WORKING TREE, so uncommitted edits count too. In-window
  queries are exempt: the driver re-proves them this round by construction.

Round workflow:
1. round start: stamp last round's window at the commit the driver verified
   (`python tools/freshness_ledger.py promote --commit <last-round-sha>`),
   then rotate `_VERIFY_FIRST`.
2. during the round: touching a file that an off-window query depends on
   turns the gate red; fix = promote that query into `_VERIFY_FIRST` and run
   `promote` (stamps the current window at HEAD).

Known approximation: hashes are taken from the CURRENT source at stamp time,
not extracted from the stamped commit — stamp promptly after rotation.
"""

from __future__ import annotations

import ast
import hashlib
import inspect
import json
import os
import subprocess
import sys
import textwrap

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
LEDGER = os.path.join(REPO, "tools", "freshness_ledger.json")
WINDOW = 50  # driver checks the first 50 queries() entries
MISSING = "not in ledger — put it in _VERIFY_FIRST, then run `promote`"


def _repo_file(path: str | None) -> str | None:
    """Repo-relative path of a source file; None outside the repo."""
    if not path:
        return None
    rel = os.path.relpath(os.path.abspath(path), REPO)
    return None if rel.startswith("..") else rel


def _module_file(dotted: str) -> str | None:
    """a.b.c -> a/b/c.py (or a/b/c/__init__.py) when it is in the repo."""
    rel = dotted.replace(".", "/")
    for cand in (rel + ".py", rel + "/__init__.py"):
        if os.path.exists(os.path.join(REPO, cand)):
            return cand
    return None


def _imported_files(node: ast.Import | ast.ImportFrom, rel: str) -> set[str]:
    """Repo files one import statement of file `rel` names: the module and,
    for `from m import x`, the submodule m.x."""
    if isinstance(node, ast.Import):
        found = {_module_file(a.name) for a in node.names}
    else:
        base = node.module or ""
        if node.level:
            pkg = [p for p in os.path.dirname(rel).split("/") if p]
            pkg = pkg[: len(pkg) - node.level + 1]
            base = ".".join(pkg + ([base] if base else []))
        found = {_module_file(base)} | {
            _module_file(f"{base}.{a.name}") for a in node.names
        }
    return found - {None}


def _import_closure(seeds: set[str], graph: dict[str, set[str]]) -> set[str]:
    """The seed files and every repo file they import, transitively.
    `graph` memoizes each file's direct imports across calls."""
    todo, seen = list(seeds), set()
    while todo:
        rel = todo.pop()
        if rel in seen:
            continue
        seen.add(rel)
        if rel not in graph:
            with open(os.path.join(REPO, rel)) as fh:
                tree = ast.parse(fh.read())
            graph[rel] = set().union(*(
                _imported_files(n, rel) for n in ast.walk(tree)
                if isinstance(n, (ast.Import, ast.ImportFrom))
            ))
        todo.extend(graph[rel])
    return seen


def _module_constants(path: str) -> dict[str, str]:
    """Module-level assignment source by target name."""
    with open(path) as fh:
        src = fh.read()
    out: dict[str, list[str]] = {}
    for node in ast.parse(src).body:
        if isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = getattr(node, "targets", None) or [node.target]
            for n in (n for t in targets for n in ast.walk(t)):
                if isinstance(n, ast.Name):
                    out.setdefault(n.id, []).append(
                        ast.get_source_segment(src, node))
    return {k: "\n".join(v) for k, v in out.items()}


def _reach(fn, consts: dict[str, str]) -> tuple[str, set[str]]:
    """(definition text, repo files it names) of one query function: its
    source, then the sources of the entry functions and constants it
    reaches, ordered by name."""
    g = fn.__globals__
    sources: dict[str, str] = {}
    files: set[str | None] = set()
    todo = [(fn.__qualname__, fn)]
    while todo:
        key, unit = todo.pop()
        if key in sources:
            continue
        cells = {}
        if inspect.isfunction(unit):
            src = inspect.getsource(unit)
            cells = dict(zip(unit.__code__.co_freevars,
                             (c.cell_contents for c in unit.__closure__ or ())))
        else:  # an entry constant, given as its assignment source
            src = unit
        sources[key] = src
        for node in ast.walk(ast.parse(textwrap.dedent(src))):
            if isinstance(node, (ast.Import, ast.ImportFrom)):
                files |= _imported_files(node, _repo_file(g["__file__"]) or "")
                continue
            if not (isinstance(node, ast.Name) and isinstance(node.ctx, ast.Load)):
                continue
            if node.id in cells:
                val = cells[node.id]
            elif node.id in g:
                val = g[node.id]
            else:
                continue
            if inspect.isfunction(val) and val.__globals__ is g:
                todo.append((val.__qualname__, val))
            elif inspect.ismodule(val):
                files.add(_repo_file(getattr(val, "__file__", None)))
            elif node.id in consts and node.id not in cells:
                todo.append((node.id, consts[node.id]))
            else:
                mod = sys.modules.get(getattr(val, "__module__", None) or "")
                files.add(_repo_file(getattr(mod, "__file__", None)))
    own = sources.pop(fn.__qualname__)
    return "\n".join([own] + [sources[k] for k in sorted(sources)]), files - {None}


def _walk(entry) -> dict[str, tuple[str, set[str]]]:
    """query name -> (definition hash, closure)."""
    consts: dict[str, dict[str, str]] = {}
    graph: dict[str, set[str]] = {}
    out = {}
    for name, fn in entry.queries().items():
        path = fn.__globals__["__file__"]
        if path not in consts:
            consts[path] = _module_constants(path)
        text, files = _reach(fn, consts[path])
        out[name] = (_sha(text), _import_closure(files, graph))
    return out


def _sha(text: str) -> str:
    return hashlib.sha256(text.encode()).hexdigest()[:16]


def _oracle_sha(sql: str) -> str:
    return _sha(sql.replace(os.path.join(REPO, ".corpus"), "<corpus>"))


def _entry_module():
    sys.path.insert(0, REPO)
    import __spark_entry__ as e

    return e


def query_closures(entry=None) -> dict[str, set[str]]:
    """query name -> the repo files it runs (see the module docstring)."""
    return {n: c for n, (_, c) in _walk(entry or _entry_module()).items()}


def snapshot(entry=None) -> dict[str, dict[str, str]]:
    e = entry or _entry_module()
    oracles = e.oracle_sql()
    return {name: {"func_sha": sha,
                   "oracle_sha": _oracle_sha(oracles.get(name, ""))}
            for name, (sha, _) in _walk(e).items()}


def _git_changed_since(commit: str, paths: set[str]) -> set[str]:
    out = subprocess.run(
        ["git", "diff", "--name-only", commit, "--", *sorted(paths)],
        cwd=REPO, capture_output=True, text=True, check=True,
    )
    return {l.strip() for l in out.stdout.splitlines() if l.strip()}


def check(entry=None) -> list[tuple[str, str]]:
    """Return [(query, reason)] freshness violations for OFF-window queries."""
    e = entry or _entry_module()
    with open(LEDGER) as fh:
        ledger = json.load(fh)["queries"]
    walked = _walk(e)
    oracles = e.oracle_sql()
    off = list(walked)[WINDOW:]
    paths = set().union(*(walked[n][1] for n in off))
    changed_cache: dict[str, set[str]] = {}
    offenders = []
    for name in off:
        rec = ledger.get(name)
        if rec is None:
            offenders.append((name, MISSING))
            continue
        sha, closure = walked[name]
        if rec["func_sha"] != sha:
            offenders.append((name, "query function, or an entry helper or "
                                    "constant it reads, changed since last "
                                    "driver verification"))
            continue
        if rec["oracle_sha"] != _oracle_sha(oracles.get(name, "")):
            offenders.append((name, "oracle SQL changed since last "
                                    "driver verification"))
            continue
        commit = rec["commit"]
        if commit not in changed_cache:
            changed_cache[commit] = (_git_changed_since(commit, paths)
                                     if paths else set())
        hit = changed_cache[commit] & closure
        if hit:
            offenders.append(
                (name, f"depends on files changed since {commit[:9]}: "
                       f"{sorted(hit)}")
            )
    return offenders


def _head() -> str:
    return subprocess.run(
        ["git", "rev-parse", "HEAD"], cwd=REPO,
        capture_output=True, text=True, check=True,
    ).stdout.strip()


def main() -> int:
    import argparse

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    p_prom = sub.add_parser("promote", help="stamp the current front window")
    p_prom.add_argument("--commit", default=None)
    sub.add_parser("check", help="print violations; exit 1 if any")
    args = ap.parse_args()

    e = _entry_module()
    if args.cmd == "check":
        offenders = check(e)
        for name, why in offenders:
            print(f"STALE {name}: {why}")
        print(f"{len(offenders)} violations")
        return 1 if offenders else 0

    commit = args.commit or _head()
    snap = snapshot(e)
    names = list(snap)
    with open(LEDGER) as fh:
        ledger = json.load(fh)
    missing = [n for n in names[WINDOW:] if n not in ledger["queries"]]
    if missing:
        raise SystemExit(f"off-window queries {missing}: {MISSING}")
    for name in names[:WINDOW]:
        ledger["queries"][name] = {"commit": commit, **snap[name]}
    # a deleted query leaves no record behind
    ledger["queries"] = {n: r for n, r in ledger["queries"].items()
                         if n in snap}
    with open(LEDGER, "w") as fh:
        json.dump(ledger, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(f"stamped {len(names[:WINDOW])} queries at {commit[:9]}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
