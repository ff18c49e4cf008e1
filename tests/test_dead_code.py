"""Dead-code gate: every public top-level function, class and constant
in the package, and every script in ``tools/``, is referenced somewhere
other than its own definition.

Spark-free and text-based. A reference is any occurrence of the name
as an identifier token in the package, ``tests/``, ``tools/``,
``perfbench/`` or ``__spark_entry__.py``, outside the source span of
the name's own definition (so a docstring that names itself or a
recursive call does not count). Strings count, so names looked up
dynamically stay live as long as the name is spelled somewhere. A
function decorated with ``@register`` is live: the registry reaches it
by entry name.

A ``tools/*.py`` script counts as named when its stem appears in any
other of those files, in README.md or under ``.claude/skills/``. The
history docs (PERF.md, CHANGES.md, ROADMAP.md, ...) do not count: a
script that only they name produced an old artifact and nothing runs
it now.
"""

from __future__ import annotations

import ast
import re
from collections import Counter
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "vbb_data_pipeline_spark"
TOOLS = ROOT / "tools"
SEARCH = [PACKAGE, ROOT / "tests", TOOLS, ROOT / "perfbench",
          ROOT / "__spark_entry__.py"]
TOOL_DOCS = [ROOT / "README.md", *sorted((ROOT / ".claude" / "skills").rglob("*.md"))]
_IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")
_FUNC = (ast.FunctionDef, ast.AsyncFunctionDef)


def _py_files(paths):
    for p in paths:
        yield from ([p] if p.is_file() else sorted(p.rglob("*.py")))


def _is_register(dec: ast.expr) -> bool:
    if isinstance(dec, ast.Call):
        dec = dec.func
    return (isinstance(dec, ast.Name) and dec.id == "register") or (
        isinstance(dec, ast.Attribute) and dec.attr == "register"
    )


def _public_names(node: ast.stmt, kinds: tuple[type, ...]) -> list[str]:
    """Public names a top-level statement of one of ``kinds`` defines."""
    if not isinstance(node, kinds):
        return []
    if isinstance(node, _FUNC):
        if any(_is_register(d) for d in node.decorator_list):
            return []
        names = [node.name]
    elif isinstance(node, ast.ClassDef):
        names = [node.name]
    elif isinstance(node, ast.Assign):
        names = [t.id for t in node.targets if isinstance(t, ast.Name)]
    else:  # ast.AnnAssign
        names = [node.target.id] if isinstance(node.target, ast.Name) else []
    return [n for n in names if not n.startswith("_")]


def unreferenced(kinds: tuple[type, ...]) -> list[str]:
    """``path:line name`` for each public top-level definition of one
    of ``kinds`` in the package that nothing outside its span names."""
    uses: Counter[str] = Counter()
    texts = {}
    for path in _py_files(SEARCH):
        texts[path] = path.read_text(encoding="utf-8")
        uses.update(_IDENT.findall(texts[path]))
    defs: dict[str, list[tuple[Path, int, int]]] = {}
    for path in _py_files([PACKAGE]):
        for node in ast.parse(texts[path]).body:
            for name in _public_names(node, kinds):
                defs.setdefault(name, []).append(
                    (path, node.lineno, node.end_lineno)
                )
    dead = []
    for name, spans in defs.items():
        own = sum(
            _IDENT.findall(
                "\n".join(texts[p].splitlines()[lo - 1 : hi])
            ).count(name)
            for p, lo, hi in spans
        )
        if uses[name] == own:
            dead += [f"{p.relative_to(ROOT)}:{lo} {name}" for p, lo, _ in spans]
    return sorted(dead)


def unnamed_tools() -> list[str]:
    """``tools/*.py`` scripts whose stem no other searched file names."""
    tokens = {p: set(_IDENT.findall(p.read_text(encoding="utf-8")))
              for p in [*_py_files(SEARCH), *TOOL_DOCS]}
    return [
        str(script.relative_to(ROOT))
        for script in sorted(TOOLS.glob("*.py"))
        if not any(script.stem in t for p, t in tokens.items() if p != script)
    ]


def test_no_unreferenced_public_functions():
    dead = unreferenced(_FUNC)
    assert not dead, "referenced nowhere but their own def:\n" + "\n".join(dead)


def test_no_unreferenced_public_constants_or_classes():
    dead = unreferenced((ast.Assign, ast.AnnAssign, ast.ClassDef))
    assert not dead, (
        "referenced nowhere but their own definition:\n" + "\n".join(dead)
    )


def test_no_unnamed_tools():
    dead = unnamed_tools()
    assert not dead, (
        "tools named by no code, test, tool, README or skill:\n"
        + "\n".join(dead)
    )
