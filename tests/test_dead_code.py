"""Dead-code gate: every public top-level function in the package is
referenced somewhere other than its own ``def``.

Spark-free and text-based. A reference is any occurrence of the name
as an identifier token in the package, ``tests/``, ``tools/``,
``perfbench/``, ``bench.py`` or ``__spark_entry__.py``, outside the
source span of the function's own definition (so a docstring that
names itself or a recursive call does not count). Strings count, so
names looked up dynamically stay live as long as the name is spelled
somewhere. A function decorated with ``@register`` is live: the
registry reaches it by entry name.
"""

from __future__ import annotations

import ast
import re
from collections import Counter
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "vbb_data_pipeline_spark"
SEARCH = [PACKAGE, ROOT / "tests", ROOT / "tools", ROOT / "perfbench",
          ROOT / "bench.py", ROOT / "__spark_entry__.py"]
_IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")


def _py_files(paths):
    for p in paths:
        yield from ([p] if p.is_file() else sorted(p.rglob("*.py")))


def _is_register(dec: ast.expr) -> bool:
    if isinstance(dec, ast.Call):
        dec = dec.func
    return (isinstance(dec, ast.Name) and dec.id == "register") or (
        isinstance(dec, ast.Attribute) and dec.attr == "register"
    )


def unreferenced_functions() -> list[str]:
    uses: Counter[str] = Counter()
    texts = {}
    for path in _py_files(SEARCH):
        texts[path] = path.read_text(encoding="utf-8")
        uses.update(_IDENT.findall(texts[path]))
    # public, undecorated-by-register top-level defs → their own spans
    defs: dict[str, list[tuple[Path, int, int]]] = {}
    for path in _py_files([PACKAGE]):
        for node in ast.parse(texts[path]).body:
            if (
                isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
                and not node.name.startswith("_")
                and not any(_is_register(d) for d in node.decorator_list)
            ):
                defs.setdefault(node.name, []).append(
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


def test_no_unreferenced_public_functions():
    dead = unreferenced_functions()
    assert not dead, "referenced nowhere but their own def:\n" + "\n".join(dead)
