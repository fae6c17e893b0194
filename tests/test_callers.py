"""Every public top-level function of the package has a non-test caller,
and every module-level name of the package is read.

An operator that no query, job, tool or benchmark runs is code nothing
checks. The walk collects every name the non-test code loads (a bare name
or an attribute, ``F.x`` / ``D.x``) and fails on a public top-level ``def``
under ``pdf_parser_spark/`` that none of them names. Imports, re-exports
and ``__all__`` strings are not calls, so they do not count. A module-level
assignment is held to the same rule: a public name needs a load in non-test
code, and a private one a load anywhere, tests included.

An operator parameter that defaults to None names two modes. The non-test
call sites must run both: one call that sets it and one that leaves it
None. A mode only tests take is a second, unchecked way to get the answer.
"""

from __future__ import annotations

import ast
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(REPO, "pdf_parser_spark")
CALLER_ROOTS = ("pdf_parser_spark", "jobs", "tools", "perfbench",
                "__spark_entry__.py", "bench.py")

# defs in modules that off-window queries import, so they cannot change
# before the next verification rotation
FROZEN = "frozen until the rotation"
ALLOWED = {
    "config.field_keys": FROZEN,
    "sinks.write_json_lines": FROZEN,
    "kernels.validate.is_html_bytes": FROZEN,
    "kernels.webp.webp_dimensions": FROZEN,
    "kernels.mp3.build_mp3_frame": FROZEN,
}
ALLOWED_NAMES = {
    "kernels.mp4.MP4_FTYP_OFFSET": FROZEN,
    "kernels.pdfgen.MINIMAL_PDF": FROZEN,  # loaded only by tests
    "sources.exif_fixture._SIZES": FROZEN,
}
# skew caps that no query sets yet: settled together at the rotation
SKEW_CAP = "skew cap, settled at the rotation"
ALLOWED_ONE_MODE = {
    "temporal.asof_join.tolerance_seconds": FROZEN,
    "dedup.simhash_dups.max_block": SKEW_CAP,
    "similarity.bucketed_near_dup_pairs.max_bucket": SKEW_CAP,
    "semdedup.semdedup.max_cluster": SKEW_CAP,
}


def _py_files(root: str):
    if root.endswith(".py"):
        yield root
        return
    for d, _dirs, files in os.walk(root):
        yield from (os.path.join(d, f) for f in sorted(files) if f.endswith(".py"))


def _parse(path: str) -> ast.Module:
    with open(path, encoding="utf-8") as fh:
        return ast.parse(fh.read(), path)


def _loaded_names(roots=CALLER_ROOTS) -> set:
    names = set()
    for root in roots:
        for path in _py_files(os.path.join(REPO, root)):
            for node in ast.walk(_parse(path)):
                if isinstance(node, ast.Name) and isinstance(node.ctx, ast.Load):
                    names.add(node.id)
                elif isinstance(node, ast.Attribute):
                    names.add(node.attr)
    return names


def _top_level():
    for path in _py_files(PKG):
        mod = os.path.relpath(path, PKG)[:-3].replace(os.sep, ".")
        for node in _parse(path).body:
            yield mod, node


def _public_defs():
    for mod, node in _top_level():
        if (isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
                and not node.name.startswith("_")):
            yield f"{mod}.{node.name}", node.name


def _assigned_names():
    for mod, node in _top_level():
        if isinstance(node, (ast.Assign, ast.AnnAssign)):
            for t in getattr(node, "targets", None) or [node.target]:
                for n in ast.walk(t):
                    if isinstance(n, ast.Name) and not n.id.startswith("__"):
                        yield f"{mod}.{n.id}", n.id


class TestEveryPublicDefHasACaller:
    def test_no_uncalled_public_def(self):
        called = _loaded_names()
        uncalled = sorted(q for q, name in _public_defs() if name not in called)
        # equality, so an allowlisted def that gains a caller leaves the list
        assert uncalled == sorted(ALLOWED)


class TestEveryModuleNameIsRead:
    def test_no_unread_module_name(self):
        read = _loaded_names()
        read_anywhere = read | _loaded_names(("tests",))
        unread = sorted(
            q for q, name in _assigned_names()
            if name not in (read_anywhere if name.startswith("_") else read)
        )
        assert unread == sorted(ALLOWED_NAMES)


def _none_params():
    """(module.function.param, name, position) of every parameter that
    defaults to None in a public top-level operator def; position is None
    for a keyword-only parameter."""
    for mod, node in _top_level():
        if (not mod.startswith("operators.")
                or not isinstance(node, ast.FunctionDef)
                or node.name.startswith("_")):
            continue
        a = node.args
        pos = a.posonlyargs + a.args
        defaults = list(zip(pos[len(pos) - len(a.defaults):], a.defaults))
        defaults += zip(a.kwonlyargs, a.kw_defaults)
        for arg, d in defaults:
            if isinstance(d, ast.Constant) and d.value is None:
                where = pos.index(arg) if arg in pos else None
                qual = f"{mod.removeprefix('operators.')}.{node.name}.{arg.arg}"
                yield qual, node.name, arg.arg, where


def _calls():
    """name -> every non-test ast.Call whose callee is that bare name or
    attribute."""
    calls = {}
    for root in CALLER_ROOTS:
        for path in _py_files(os.path.join(REPO, root)):
            for node in ast.walk(_parse(path)):
                if isinstance(node, ast.Call):
                    f = node.func
                    name = getattr(f, "id", None) or getattr(f, "attr", None)
                    calls.setdefault(name, []).append(node)
    return calls


class TestEveryNoneDefaultRunsBothModes:
    def test_callers_set_and_leave_each_none_default(self):
        calls = _calls()
        one_mode = []
        for qual, fn, param, where in _none_params():
            modes = set()
            for call in calls.get(fn, []):
                given = {k.arg: k.value for k in call.keywords}.get(param)
                if given is None and where is not None and where < len(call.args):
                    given = call.args[where]
                modes.add(given is not None and not (
                    isinstance(given, ast.Constant) and given.value is None))
            if modes != {True, False}:
                one_mode.append(qual)
        assert sorted(one_mode) == sorted(ALLOWED_ONE_MODE)
