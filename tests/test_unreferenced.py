"""Every top-level definition of the package has a reader.

A top-level function, class or UPPER_CASE constant that no ``.py`` file of
the repository names is code nothing runs: a table build with no caller,
a cap no path reads.  The AST guard below fails on such a definition.  A
name counts as read wherever it appears as a loaded name, an attribute,
an imported name or an exact string constant (``monkeypatch.setattr(mod,
"name", ...)``), in any module, tests and benchmarks included.
"""

from __future__ import annotations

import ast
import pathlib
import re
from collections import Counter

ROOT = pathlib.Path(__file__).resolve().parents[1]
PACKAGE = ROOT / "oscar_spatial_index_compare_spark"

_CONSTANT = re.compile(r"_?[A-Z][A-Z0-9_]*")


def _definitions(src: str) -> list[tuple[int, str]]:
    """(line, name) of the module's top-level functions, classes and
    UPPER_CASE constants."""
    out = []
    for node in ast.parse(src).body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            out.append((node.lineno, node.name))
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            out += [(node.lineno, t.id) for t in targets
                    if isinstance(t, ast.Name) and _CONSTANT.fullmatch(t.id)]
    return out


def _references(src: str) -> Counter:
    """How often each name is read in the module."""
    refs: Counter = Counter()
    for node in ast.walk(ast.parse(src)):
        if isinstance(node, ast.Name) and not isinstance(node.ctx, ast.Store):
            refs[node.id] += 1
        elif isinstance(node, ast.Attribute):
            refs[node.attr] += 1
        elif isinstance(node, ast.alias):
            refs[node.name.rsplit(".", 1)[-1]] += 1
        elif isinstance(node, ast.Constant) and isinstance(node.value, str):
            refs[node.value] += 1
    return refs


def _unreferenced(modules: dict[str, str], sources: list[str]) -> dict:
    """{module: [(line, name)]} of the definitions in ``modules`` that no
    source in ``sources`` reads."""
    refs: Counter = Counter()
    for src in sources:
        refs += _references(src)
    out = {}
    for name, src in modules.items():
        dead = [(line, d) for line, d in _definitions(src) if not refs[d]]
        if dead:
            out[name] = dead
    return out


def test_guard_flags_unreferenced_definitions():
    mod = (
        "A_CAP = 3\n"
        "B_CAP: int = 4\n"
        "lower = 5\n"
        "def used():\n    return A_CAP\n"
        "def unused():\n    pass\n"
        "class Dead:\n    pass\n"
        "@decorator\ndef patched():\n    pass\n"
        "register(Dead2())\n"
    )
    other = ("from pkg.mod import used as u\n"
             "monkeypatch.setattr(mod, 'patched', f)\n")
    assert _unreferenced({"mod.py": mod}, [mod, other]) == {
        "mod.py": [(2, "B_CAP"), (6, "unused"), (8, "Dead")]}


def test_every_package_definition_is_referenced():
    sources = [p.read_text() for p in sorted(ROOT.rglob("*.py"))
               if not any(part.startswith(".")
                          for part in p.relative_to(ROOT).parts)]
    modules = {str(p.relative_to(PACKAGE)): p.read_text()
               for p in sorted(PACKAGE.rglob("*.py"))}
    dead = _unreferenced(modules, sources)
    assert not dead, f"definitions nothing references (delete them): {dead}"
