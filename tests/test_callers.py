"""Every public top-level function of the package has a non-test caller.

An operator that no query, job, tool or benchmark runs is code nothing
checks. The walk collects every name the non-test code loads (a bare name
or an attribute, ``F.x`` / ``D.x``) and fails on a public top-level ``def``
under ``pdf_parser_spark/`` that none of them names. Imports, re-exports
and ``__all__`` strings are not calls, so they do not count.
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


def _py_files(root: str):
    if root.endswith(".py"):
        yield root
        return
    for d, _dirs, files in os.walk(root):
        yield from (os.path.join(d, f) for f in sorted(files) if f.endswith(".py"))


def _parse(path: str) -> ast.Module:
    with open(path, encoding="utf-8") as fh:
        return ast.parse(fh.read(), path)


def _loaded_names() -> set:
    names = set()
    for root in CALLER_ROOTS:
        for path in _py_files(os.path.join(REPO, root)):
            for node in ast.walk(_parse(path)):
                if isinstance(node, ast.Name) and isinstance(node.ctx, ast.Load):
                    names.add(node.id)
                elif isinstance(node, ast.Attribute):
                    names.add(node.attr)
    return names


def _public_defs():
    for path in _py_files(PKG):
        mod = os.path.relpath(path, PKG)[:-3].replace(os.sep, ".")
        for node in _parse(path).body:
            if (isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
                    and not node.name.startswith("_")):
                yield f"{mod}.{node.name}", node.name


class TestEveryPublicDefHasACaller:
    def test_no_uncalled_public_def(self):
        called = _loaded_names()
        uncalled = sorted(q for q, name in _public_defs() if name not in called)
        # equality, so an allowlisted def that gains a caller leaves the list
        assert uncalled == sorted(ALLOWED)
