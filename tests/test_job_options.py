"""Every option a job declares is passed by some run of that job in a test.

An option no test passes is a mode of the shipped entry point that nothing
runs: a default-only path checks one of its settings, never the option. The
walk reads each ``ap.add_argument("--x", ...)`` in ``jobs/*.py`` and fails on
an option that no job run in ``tests/test_job_cli.py`` passes. A job run is
a list literal handed to ``subprocess.run`` that names ``jobs/<job>.py``, or
to a module helper whose own ``subprocess.run`` names it (``_run(argv)``);
only that list's ``--`` strings count. An in-process ``main([...])`` that
only checks a usage error runs no job and counts for nothing. The CLI
analogue of ``tests/test_callers.py``'s rule that an operator parameter's
non-test callers run both of its modes.
"""

from __future__ import annotations

import ast
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
JOBS = os.path.join(REPO, "jobs")
CLI_TESTS = os.path.join(REPO, "tests", "test_job_cli.py")


def _parse(path: str) -> ast.Module:
    with open(path, encoding="utf-8") as fh:
        return ast.parse(fh.read(), path)


def declared_options() -> set[tuple[str, str]]:
    """Each (job file, option string) a job declares."""
    opts = set()
    for name in sorted(os.listdir(JOBS)):
        if not name.endswith(".py"):
            continue
        for node in ast.walk(_parse(os.path.join(JOBS, name))):
            if (isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "add_argument"):
                opts |= {(name, a.value) for a in node.args
                         if isinstance(a, ast.Constant) and isinstance(a.value, str)
                         and a.value.startswith("--")}
    return opts


def _strings(node: ast.AST) -> list[str]:
    if not isinstance(node, ast.List):
        return []
    return [e.value for e in node.elts
            if isinstance(e, ast.Constant) and isinstance(e.value, str)]


def _job_named(argv: list[str]) -> str | None:
    jobs = [s[len("jobs/"):] for s in argv if s.startswith("jobs/") and s.endswith(".py")]
    return jobs[0] if jobs else None


def _is_subprocess_run(call: ast.Call) -> bool:
    f = call.func
    return (isinstance(f, ast.Attribute) and f.attr == "run"
            and isinstance(f.value, ast.Name) and f.value.id == "subprocess")


def passed_options(tree: ast.Module) -> set[tuple[str, str]]:
    """Each (job file, option string) some job run in `tree` passes."""
    helpers = {}  # module function -> the job its subprocess.run names
    for fn in tree.body:
        if isinstance(fn, ast.FunctionDef):
            for node in ast.walk(fn):
                if isinstance(node, ast.Call) and _is_subprocess_run(node) and node.args:
                    job = _job_named(_strings(node.args[0]))
                    if job:
                        helpers[fn.name] = job
    passed = set()
    for node in ast.walk(tree):
        if not (isinstance(node, ast.Call) and node.args):
            continue
        argv = _strings(node.args[0])
        if _is_subprocess_run(node):
            job = _job_named(argv)
        elif isinstance(node.func, ast.Name):
            job = helpers.get(node.func.id)
        else:
            job = None
        if job:
            passed |= {(job, s) for s in argv if s.startswith("--")}
    return passed


class TestEveryJobOptionIsPassed:
    def test_walk_finds_the_jobs_options(self):
        opts = declared_options()
        assert {("extract_job.py", "--input"), ("curate_job.py", "--input"),
                ("extract_job.py", "--source"), ("curate_job.py", "--min-tokens")} <= opts

    def test_only_job_runs_count(self):
        tree = ast.parse(
            "def _run(args):\n"
            "    return subprocess.run([sys.executable, 'jobs/a.py', *args])\n"
            "def test_x():\n"
            "    _run(['--in', x])\n"
            "    subprocess.run([sys.executable, 'jobs/b.py', '--out', y])\n"
            "    main(['--usage'])\n"
            "    cols = ['--col']\n"
        )
        assert passed_options(tree) == {("a.py", "--in"), ("b.py", "--out")}

    def test_no_unpassed_option(self):
        passed = passed_options(_parse(CLI_TESTS))
        unpassed = sorted(f"{job}: {opt}" for job, opt in declared_options() - passed)
        assert not unpassed, f"job options no test passes: {unpassed}"
