"""Every stream drains through ONE helper (streaming/runner._drain).

The AvailableNow drain (checkpoint location, ``trigger(availableNow=True)``,
``start``, ``awaitTermination``) is what makes each stream finite,
deterministic and comparable to its batch form. It used to be copied
into every runner; this grep/AST invariant keeps a new stream from
copying it again:

- ``availableNow`` appears exactly once in the package source, inside
  ``runner._drain``;
- no module other than ``streaming/runner.py`` touches ``.writeStream``
  (other modules hand their frame to the runner's drain helpers).
"""

from __future__ import annotations

import ast
import pathlib

PKG = pathlib.Path(__file__).resolve().parent.parent / "uw_hadoop_aglorithms_spark"
RUNNER = PKG / "streaming" / "runner.py"


def _enclosing_function(tree: ast.Module, lineno: int) -> str | None:
    """Name of the innermost def whose body spans `lineno`."""
    best = None
    for node in ast.walk(tree):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            if node.lineno <= lineno <= node.end_lineno:
                if best is None or node.lineno > best.lineno:
                    best = node
    return best.name if best else None


def test_available_now_only_in_the_drain_helper():
    hits = []
    for path in sorted(PKG.rglob("*.py")):
        text = path.read_text()
        for i, line in enumerate(text.splitlines(), 1):
            if "availableNow" in line:
                where = _enclosing_function(ast.parse(text), i)
                hits.append((path.relative_to(PKG).as_posix(), i, where))
    assert [(p, where) for p, _i, where in hits] == [
        ("streaming/runner.py", "_drain")
    ], f"availableNow outside runner._drain: {hits}"


def test_no_write_stream_outside_runner():
    bad = []
    for path in sorted(PKG.rglob("*.py")):
        if path == RUNNER:
            continue
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.Attribute) and node.attr == "writeStream":
                bad.append(f"{path.relative_to(PKG)}:{node.lineno}")
    assert not bad, f".writeStream outside streaming/runner.py: {bad}"
