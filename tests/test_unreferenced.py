"""Every top-level definition of the package has a reader outside tests.

A top-level function, class or UPPER_CASE constant that no ``.py`` file
outside ``tests/`` names is code only tests run: a table build with no
caller, a cap no path reads.  The AST guard below fails on such a
definition.  A name counts as read wherever it appears as a loaded name,
an attribute, an imported name or an exact string constant, in the
package, the driver entry, the benchmarks or the tools.  Oracles that only
tests compare against are allowed by name in ``ORACLES``.
"""

from __future__ import annotations

import ast
import pathlib
import re
from collections import Counter

ROOT = pathlib.Path(__file__).resolve().parents[1]
PACKAGE = ROOT / "oscar_spatial_index_compare_spark"

_CONSTANT = re.compile(r"_?[A-Z][A-Z0-9_]*")
# reference implementations only tests read
ORACLES = {"DOCUMENTS_CC_ORACLE"}


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


def _sources(root: pathlib.Path) -> list[str]:
    """The ``.py`` files under ``root`` outside ``tests/`` and hidden
    directories."""
    out = []
    for p in sorted(root.rglob("*.py")):
        parts = p.relative_to(root).parts
        if parts[0] != "tests" and not any(x.startswith(".") for x in parts):
            out.append(p.read_text())
    return out


def _unreferenced(modules: dict[str, str], sources: list[str]) -> dict:
    """{module: [(line, name)]} of the definitions in ``modules`` that no
    source in ``sources`` reads, oracles aside."""
    refs: Counter = Counter()
    for src in sources:
        refs += _references(src)
    out = {}
    for name, src in modules.items():
        dead = [(line, d) for line, d in _definitions(src)
                if not refs[d] and d not in ORACLES]
        if dead:
            out[name] = dead
    return out


def test_guard_flags_unreferenced_definitions(tmp_path):
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
    # a definition that only a test module reads is flagged; a named
    # oracle is not
    pkg = ("DOCUMENTS_CC_ORACLE = ''\n"
           "def served():\n    pass\ndef tested():\n    pass\n")
    for path, src in [("pkg/mod.py", pkg), ("app.py", "served()\n"),
                      ("tests/test_mod.py", "tested()\n"),
                      (".venv/lib.py", "tested()\n")]:
        (tmp_path / path).parent.mkdir(parents=True, exist_ok=True)
        (tmp_path / path).write_text(src)
    assert _unreferenced({"mod.py": pkg}, _sources(tmp_path)) == {
        "mod.py": [(4, "tested")]}


def test_every_package_definition_is_referenced():
    sources = _sources(ROOT)
    modules = {str(p.relative_to(PACKAGE)): p.read_text()
               for p in sorted(PACKAGE.rglob("*.py"))}
    dead = _unreferenced(modules, sources)
    assert not dead, f"definitions only tests read (delete them): {dead}"
