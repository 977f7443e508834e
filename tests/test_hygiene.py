"""Source hygiene: every tracked Python file compiles with SyntaxWarning
and DeprecationWarning raised as errors. An invalid escape such as '\\s'
in a non-raw string is a warning in Python 3.11 and an error in later
versions, so it must never reach the tree. Library code leaves the
session's global state alone and declares nothing that nothing loads."""

from __future__ import annotations

import ast
import os
import subprocess
import warnings

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _tracked_python() -> list[str]:
    files = subprocess.run(
        ["git", "ls-files", "*.py"], cwd=ROOT, capture_output=True, text=True, check=True
    ).stdout.split()
    assert files
    return files


def test_tracked_python_compiles_without_warnings():
    files = _tracked_python()
    bad = []
    for name in files:
        with open(os.path.join(ROOT, name), encoding="utf-8") as fh:
            src = fh.read()
        with warnings.catch_warnings():
            warnings.simplefilter("error", SyntaxWarning)
            warnings.simplefilter("error", DeprecationWarning)
            try:
                compile(src, name, "exec")
            except (SyntaxError, SyntaxWarning, DeprecationWarning) as exc:
                bad.append(f"{name}: {exc}")
    assert not bad, "\n".join(bad)


def test_library_leaves_session_state_alone():
    """No module under agraph_spark/ sets the context's checkpoint
    directory or a session conf: the SparkSession is shared by every query
    in a process, so a library-side set leaks into the next query. Reliable
    checkpoints and shuffle sizes come from the session's own conf
    (spark.checkpoint.dir, spark.sql.shuffle.partitions with AQE)."""
    pkg = os.path.join(ROOT, "agraph_spark")
    bad = []
    for dirpath, _, files in os.walk(pkg):
        for name in files:
            if not name.endswith(".py"):
                continue
            path = os.path.join(dirpath, name)
            with open(path, encoding="utf-8") as fh:
                for n, line in enumerate(fh, 1):
                    if "setCheckpointDir(" in line or ".conf.set(" in line:
                        bad.append(f"{os.path.relpath(path, ROOT)}:{n}: {line.strip()}")
    assert not bad, "\n".join(bad)


def test_every_library_name_is_loaded():
    """Every top-level def, class and assignment in agraph_spark/ is read
    somewhere in a tracked .py file (a bare name, an attribute or a
    from-import). A declaration nothing loads is dead weight that drifts
    from the code it once described."""
    declared: dict[str, list[str]] = {}
    loaded: set[str] = set()
    for name in _tracked_python():
        with open(os.path.join(ROOT, name), encoding="utf-8") as fh:
            tree = ast.parse(fh.read(), name)
        for node in ast.walk(tree):
            if isinstance(node, ast.Name) and isinstance(node.ctx, ast.Load):
                loaded.add(node.id)
            elif isinstance(node, ast.Attribute):
                loaded.add(node.attr)
            elif isinstance(node, ast.ImportFrom):
                loaded.update(alias.name for alias in node.names)
        if not name.startswith("agraph_spark/"):
            continue
        for stmt in tree.body:
            if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                targets = [stmt.name]
            elif isinstance(stmt, ast.Assign):
                targets = [t.id for t in stmt.targets if isinstance(t, ast.Name)]
            elif isinstance(stmt, ast.AnnAssign) and isinstance(stmt.target, ast.Name):
                targets = [stmt.target.id]
            else:
                continue
            for target in targets:
                declared.setdefault(target, []).append(f"{name}:{stmt.lineno}")
    unused = sorted(
        f"{where} {target}"
        for target, places in declared.items() if target not in loaded
        for where in places
    )
    assert not unused, "\n".join(unused)


def test_forced_path_covers_every_cutover_budget(forced_path):
    """Every upper-case int constant assigned in adaptive.py is a cutover
    budget, and the forced_path fixture (tests/conftest.py) forces each
    of them: a budget it missed would keep its shipped value and leave
    that site's forced-path tests on the default path."""
    from agraph_spark.operators import adaptive

    path = os.path.join(ROOT, "agraph_spark", "operators", "adaptive.py")
    with open(path, encoding="utf-8") as fh:
        tree = ast.parse(fh.read(), path)
    budgets = {target.id for stmt in tree.body if isinstance(stmt, ast.Assign)
               and isinstance(stmt.value, ast.Constant) and type(stmt.value.value) is int
               for target in stmt.targets
               if isinstance(target, ast.Name) and target.id.isupper()}
    assert "VECTOR_VALUES" in budgets and "GRAPH_ROWS" in budgets
    for side, want in (("driver", 10**9), ("distributed", -1)):
        with forced_path(side):
            assert {name: getattr(adaptive, name) for name in budgets} == dict.fromkeys(
                budgets, want), side
