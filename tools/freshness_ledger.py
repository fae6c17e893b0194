"""Oracle freshness ledger — mechanical guard against stale driver evidence.

Round-3 VERDICT item 8: two queries (`dedup_minhash_lsh_pairs_capped` and
the batch KNN join) had their plans rewritten AFTER their last driver-green
row, so their correctness evidence was a round old. The driver checks only
the first 50 `queries()` entries (`_VERIFY_FIRST` in `__spark_entry__.py`),
so code drift on an off-window query is invisible until the next rotation.

This module converts that process risk into a red test:

- `tools/freshness_ledger.json` records, per query, the commit at which it
  was last driver-verified plus hashes of its function source and oracle SQL.
- `check()` (wired into `tests/test_entry_contract.py`) fails when an
  OFF-window query's definition/oracle hash drifted from the ledger, or when
  any module in its (transitive) import closure changed — `git diff
  <ledger-commit> -- pdf_parser_spark/` against the WORKING TREE, so
  uncommitted edits count too. In-window queries are exempt: the driver
  re-proves them this round by construction.

Round workflow:
1. round start: stamp last round's window at the commit the driver verified
   (`python tools/freshness_ledger.py promote --commit <last-round-sha>`),
   then rotate `_VERIFY_FIRST`.
2. during the round: touching a module that an off-window query depends on
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
import re
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "pdf_parser_spark"
LEDGER = os.path.join(REPO, "tools", "freshness_ledger.json")
WINDOW = 50  # driver checks the first 50 queries() entries

def _pkg_files() -> list[str]:
    out = []
    for root, _dirs, files in os.walk(os.path.join(REPO, PKG)):
        for f in files:
            if f.endswith(".py"):
                out.append(os.path.relpath(os.path.join(root, f), REPO))
    return sorted(out)


def _module_to_file(dotted: str) -> str | None:
    """pdf_parser_spark.operators.dedup -> repo-relative file path."""
    rel = dotted.replace(".", "/")
    for cand in (rel + ".py", rel + "/__init__.py"):
        if os.path.exists(os.path.join(REPO, cand)):
            return cand
    return None


_IMPORT_RE = re.compile(
    r"^\s*(?:from\s+([.\w]+)\s+import\s+([\w, ()*]+)|import\s+([.\w]+))",
    re.M,
)


def _resolve_import(src_file: str, frm: str, names: str) -> list[str]:
    """Resolve one import statement inside a package file to file paths."""
    if frm.startswith("."):
        base = os.path.dirname(src_file).replace("/", ".")
        up = len(frm) - len(frm.lstrip("."))
        parts = base.split(".")
        parts = parts[: len(parts) - (up - 1)] if up > 1 else parts
        frm = ".".join(parts + ([frm.lstrip(".")] if frm.strip(".") else []))
    if not frm.startswith(PKG):
        return []
    hits = []
    f = _module_to_file(frm)
    if f:
        hits.append(f)
    # `from pkg.sub import mod` where mod is itself a module
    for name in re.split(r"[,\s()]+", names or ""):
        if name and name != "*":
            sub = _module_to_file(f"{frm}.{name}")
            if sub:
                hits.append(sub)
    return hits


def build_import_graph() -> dict[str, set[str]]:
    """file -> transitively-closed set of package files it depends on."""
    direct: dict[str, set[str]] = {}
    for rel in _pkg_files():
        with open(os.path.join(REPO, rel)) as fh:
            src = fh.read()
        deps: set[str] = set()
        for m in _IMPORT_RE.finditer(src):
            frm, names, plain = m.group(1), m.group(2), m.group(3)
            if plain:
                frm, names = plain, ""
            deps.update(_resolve_import(rel, frm, names))
        direct[rel] = deps - {rel}
    # transitive closure (graph is tiny; fixpoint loop is fine)
    closed = {k: set(v) for k, v in direct.items()}
    changed = True
    while changed:
        changed = False
        for k, v in closed.items():
            add = set().union(*(closed.get(d, set()) for d in v)) - v - {k}
            if add:
                v.update(add)
                changed = True
    return closed


_PKG_REF_RE = re.compile(r"pdf_parser_spark(?:\.\w+)+")


def _entry_module():
    sys.path.insert(0, REPO)
    import __spark_entry__ as e

    return e


def _entry_aliases(entry) -> dict[str, str]:
    """Names the entry module imports at module scope from the package
    (`from pdf_parser_spark.operators import dedup as D`) -> package file.
    Function-local imports are picked up per query by regex."""
    out = {}
    for node in ast.parse(inspect.getsource(entry)).body:
        if isinstance(node, ast.ImportFrom) and (node.module or "").startswith(PKG):
            for a in node.names:
                f = (_module_to_file(f"{node.module}.{a.name}")
                     or _module_to_file(node.module))
                if f:
                    out[a.asname or a.name] = f
    return out


def query_closures(entry=None) -> dict[str, set[str]]:
    """query name -> transitively-closed set of package files it touches."""
    e = entry or _entry_module()
    graph = build_import_graph()
    aliases = _entry_aliases(e)
    helpers = {
        n: inspect.getsource(fn)
        for n, fn in vars(e).items()
        if n.startswith("_") and inspect.isfunction(fn)
    }
    out: dict[str, set[str]] = {}
    for name, fn in e.queries().items():
        src = inspect.getsource(fn)
        # one level of module-scope helper expansion (_pages, _docs, ...)
        for hname, hsrc in helpers.items():
            if re.search(rf"\b{re.escape(hname)}\b", src):
                src += "\n" + hsrc
        src = re.sub(r"#[^\n]*", "", src)
        files: set[str] = set()
        # function-local imports: `from pdf_parser_spark.operators import
        # temporal as TP` must pull in operators/temporal.py, not just the
        # package __init__
        for m in _IMPORT_RE.finditer(src):
            frm, names, plain = m.group(1), m.group(2), m.group(3)
            if plain:
                frm, names = plain, ""
            files.update(_resolve_import("__spark_entry__.py", frm, names))
        for dotted in _PKG_REF_RE.findall(src):
            # longest resolvable prefix (pdf_parser_spark.operators.bpe.train
            # -> operators/bpe.py)
            parts = dotted.split(".")
            for cut in range(len(parts), 1, -1):
                f = _module_to_file(".".join(parts[:cut]))
                if f:
                    files.add(f)
                    break
        # module aliases (D/M/S/T) must appear as attribute access —
        # `M^2/2` in a comment must not drag in multimodal.py (comments are
        # already stripped above; the dot requirement guards string literals)
        for alias, f in aliases.items():
            pat = (rf"\b{re.escape(alias)}\s*\." if len(alias) <= 2
                   else rf"\b{re.escape(alias)}\b")
            if re.search(pat, src):
                files.add(f)
        closure = set(files)
        for f in files:
            closure |= graph.get(f, set())
        out[name] = closure
    return out


def snapshot(entry=None) -> dict[str, dict[str, str]]:
    e = entry or _entry_module()
    oracles = e.oracle_sql()
    # oracle SQL embeds the checkout's corpus path: hash it as a fixed token
    # so a copy of the repo elsewhere hashes alike
    corpus_root = os.path.join(REPO, ".corpus")
    snap = {}
    for name, fn in e.queries().items():
        snap[name] = {
            "func_sha": hashlib.sha256(
                inspect.getsource(fn).encode()
            ).hexdigest()[:16],
            "oracle_sha": hashlib.sha256(
                oracles.get(name, "").replace(corpus_root, "<corpus>").encode()
            ).hexdigest()[:16],
        }
    return snap


def _git_changed_since(commit: str) -> set[str]:
    out = subprocess.run(
        ["git", "diff", "--name-only", commit, "--", PKG],
        cwd=REPO, capture_output=True, text=True, check=True,
    )
    return {l.strip() for l in out.stdout.splitlines() if l.strip()}


def check(entry=None) -> list[tuple[str, str]]:
    """Return [(query, reason)] freshness violations for OFF-window queries."""
    e = entry or _entry_module()
    with open(LEDGER) as fh:
        ledger = json.load(fh)["queries"]
    names = list(e.queries())
    window = set(names[:WINDOW])
    snap = snapshot(e)
    closures = query_closures(e)
    changed_cache: dict[str, set[str]] = {}
    offenders = []
    for name in names:
        if name in window:
            continue
        rec = ledger.get(name)
        if rec is None:
            offenders.append((name, "not in ledger — promote into "
                                    "_VERIFY_FIRST and run `promote`"))
            continue
        if rec["func_sha"] != snap[name]["func_sha"]:
            offenders.append((name, "query function changed since last "
                                    "driver verification"))
            continue
        if rec["oracle_sha"] != snap[name]["oracle_sha"]:
            offenders.append((name, "oracle SQL changed since last "
                                    "driver verification"))
            continue
        commit = rec["commit"]
        if commit not in changed_cache:
            changed_cache[commit] = _git_changed_since(commit)
        hit = changed_cache[commit] & closures[name]
        if hit:
            offenders.append(
                (name, f"depends on modules changed since {commit[:9]}: "
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
    p_init = sub.add_parser("init", help="stamp ALL queries")
    p_init.add_argument("--commit", default=None)
    p_init.add_argument("--off-window-commit", default=None,
                        help="stamp off-window queries at this commit "
                             "instead (their last verification point)")
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
    names = list(e.queries())
    window = set(names[:WINDOW])
    ledger = {"queries": {}}
    if os.path.exists(LEDGER):
        with open(LEDGER) as fh:
            ledger = json.load(fh)
    for name in names:
        if args.cmd == "promote" and name not in window:
            if name not in ledger["queries"]:
                raise SystemExit(f"off-window query {name} missing from "
                                 f"ledger; run `init` once first")
            continue
        c = commit
        if args.cmd == "init" and args.off_window_commit and name not in window:
            c = args.off_window_commit
        ledger["queries"][name] = {"commit": c, **snap[name]}
    # a deleted query leaves no record behind
    ledger["queries"] = {n: r for n, r in ledger["queries"].items()
                         if n in snap}
    with open(LEDGER, "w") as fh:
        json.dump(ledger, fh, indent=1, sort_keys=True)
        fh.write("\n")
    stamped = len(window) if args.cmd == "promote" else len(names)
    print(f"stamped {stamped} queries at {commit[:9]}"
          + (f" (off-window at {args.off_window_commit[:9]})"
             if args.cmd == "init" and args.off_window_commit else ""))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
