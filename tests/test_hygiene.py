"""Source hygiene: every tracked Python file compiles with SyntaxWarning
and DeprecationWarning raised as errors. An invalid escape such as '\\s'
in a non-raw string is a warning in Python 3.11 and an error in later
versions, so it must never reach the tree."""

from __future__ import annotations

import os
import subprocess
import warnings

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_tracked_python_compiles_without_warnings():
    files = subprocess.run(
        ["git", "ls-files", "*.py"], cwd=ROOT, capture_output=True, text=True, check=True
    ).stdout.split()
    assert files
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
