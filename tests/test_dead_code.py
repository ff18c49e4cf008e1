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

A defaulted parameter of a public top-level package function must be
passed by some call in those files: by keyword, by a positional
argument at its index, or by a ``*``/``**`` splat (a ``**name`` whose
``name`` the file binds only to dict literals passes just their keys;
a ``**name`` that forwards the enclosing package function's own
``**`` parameter passes the extra keywords its callers pass). A
keyword or positional argument that is a literal equal to the
parameter's literal default does not pass it. A function referenced
as a value (a callback, a dict entry, a ``functools.partial``
argument) passes every parameter. A parameter no call passes has one
value in use: it belongs in the body as a constant.

The pipeline entry points (``pipelines.py``, ``streaming/ingest.py``)
meet the same rule with test files left out of the search: an option
that only tests set has one value in use too, unless it is the only
route to a stage or an input kind (``TEST_ONLY_ROUTES``).
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


def _defaulted(fn: ast.FunctionDef) -> dict[str, str | None]:
    """``{name: literal default}`` of each parameter of ``fn`` that has
    a default (``None`` when the default is no literal)."""
    a = fn.args
    pos = [*a.posonlyargs, *a.args]
    return {
        p.arg: _literal(d) for p, d in [
            *zip(pos[len(pos) - len(a.defaults):], a.defaults),
            *zip(a.kwonlyargs, a.kw_defaults),
        ] if d is not None
    }


def _literal(v: ast.expr) -> str | None:
    """``repr`` of a literal expression's value (so ``1``, ``1.0`` and
    ``True`` differ), or ``None`` for anything else."""
    try:
        return repr(ast.literal_eval(v))
    except (ValueError, TypeError, SyntaxError, RecursionError):
        return None


def _literal_keys(v: ast.expr | None) -> set[str] | None:
    """Keys of a dict literal with constant string keys or of a
    ``dict(k=...)`` call; ``None`` for anything else."""
    if isinstance(v, ast.Dict) and all(
        isinstance(k, ast.Constant) and isinstance(k.value, str) for k in v.keys
    ):
        return {k.value for k in v.keys}
    if (isinstance(v, ast.Call) and isinstance(v.func, ast.Name)
            and v.func.id == "dict" and not v.args
            and all(k.arg for k in v.keywords)):
        return {k.arg for k in v.keywords}
    return None


def _dict_keys(tree: ast.AST) -> dict[str, set[str] | None]:
    """For each name the file binds, the keys it can hold if every
    binding is a dict literal or ``dict(k=...)`` (constant-key item
    stores add their key), else ``None``."""
    parent = {c: p for p in ast.walk(tree) for c in ast.iter_child_nodes(p)}
    keys: dict[str, set[str] | None] = {}

    def bind(name: str, ks: set[str] | None) -> None:
        old = keys.get(name, set())
        keys[name] = None if old is None or ks is None else old | ks

    for node in ast.walk(tree):
        if isinstance(node, ast.Name) and isinstance(node.ctx, ast.Store):
            p = parent[node]
            bind(node.id, _literal_keys(
                p.value if isinstance(p, (ast.Assign, ast.AnnAssign)) else None))
        elif isinstance(node, ast.arg):
            bind(node.arg, None)
        elif (isinstance(node, ast.Subscript) and isinstance(node.ctx, ast.Store)
              and isinstance(node.value, ast.Name)):
            s = node.slice
            bind(node.value.id, {s.value} if isinstance(s, ast.Constant)
                 and isinstance(s.value, str) else None)
        elif (isinstance(node, ast.Attribute) and isinstance(node.value, ast.Name)
              and node.attr in ("update", "setdefault")):
            bind(node.value.id, None)
    return keys


def _callee(f: ast.expr) -> str | None:
    return f.id if isinstance(f, ast.Name) else (
        f.attr if isinstance(f, ast.Attribute) else None)


def _named(fn: ast.FunctionDef) -> set[str]:
    a = fn.args
    return {p.arg for p in [*a.posonlyargs, *a.args, *a.kwonlyargs]}


def unpassed_parameters(
    search: list[Path] = SEARCH, gated_files: list[Path] = [PACKAGE]
) -> tuple[int, list[str]]:
    """The number of defaulted parameters of the public top-level
    functions in ``gated_files`` (package files or directories), and
    ``path:line function.param`` for each one that no call in the
    ``search`` files passes.

    A ``**name`` splat whose ``name`` is the enclosing top-level
    package function's own ``**`` parameter passes the keywords that
    calls of that function pass beyond its named parameters (E6's
    ``**e4_kwargs`` passes to E4 what E6's callers add); the rule is
    applied until no forwarded set grows."""
    trees = {p: ast.parse(p.read_text(encoding="utf-8"))
             for p in _py_files([*search, PACKAGE])}
    package_fns = [node for path in _py_files([PACKAGE])
                   for node in trees[path].body if isinstance(node, _FUNC)]
    sigs: dict[str, list[tuple[list[str], dict[str, str | None]]]] = {}
    for fn in package_fns:
        if _public_names(fn, _FUNC):
            sigs.setdefault(fn.name, []).append(
                ([p.arg for p in [*fn.args.posonlyargs, *fn.args.args]],
                 _defaulted(fn)))
    splatting = {fn.name: fn for fn in package_fns if fn.args.kwarg}
    # call node -> (enclosing package function, its ``**`` parameter)
    enclosing = {call: (fn.name, fn.args.kwarg.arg)
                 for fn in splatting.values() for call in ast.walk(fn)
                 if isinstance(call, ast.Call)}
    search_trees = [trees[p] for p in _py_files(search)]

    def passes(param: str, value: ast.expr,
               defaults: dict[str, str | None]) -> bool:
        lit = _literal(value)
        return lit is None or lit != defaults.get(param)

    def scan(forwarded: dict[str, set[str] | None]):
        passed: dict[str, set[str] | None] = {}  # None: every parameter

        def mark(name: str, ks: set[str] | None) -> None:
            old = passed.get(name, set())
            passed[name] = None if old is None or ks is None else old | ks

        for tree in search_trees:
            dicts = _dict_keys(tree)
            funcs = set()
            for node in ast.walk(tree):
                if not isinstance(node, ast.Call) or not _callee(node.func):
                    continue
                name = _callee(node.func)
                funcs.add(node.func)
                kws: set[str] | None = set()
                for pos, defaults in sigs.get(name, []):
                    kws |= {p for p, a in zip(pos, node.args)
                            if passes(p, a, defaults)}
                    kws |= {k.arg for k in node.keywords
                            if k.arg and passes(k.arg, k.value, defaults)}
                outer, own = enclosing.get(node, (None, None))
                for k in node.keywords:
                    if k.arg:
                        continue
                    v = k.value.id if isinstance(k.value, ast.Name) else None
                    ks = (forwarded.get(outer, set()) if v and v == own
                          else dicts.get(v) or None)
                    if ks is None:
                        kws = None
                        break
                    kws |= ks
                if any(isinstance(a, ast.Starred) for a in node.args):
                    kws = None
                mark(name, kws)
            for node in ast.walk(tree):  # referenced as a value
                if (isinstance(node, (ast.Name, ast.Attribute))
                        and node not in funcs
                        and isinstance(node.ctx, ast.Load)):
                    mark(_callee(node), None)
        return passed

    forwarded: dict[str, set[str] | None] = {}
    while True:
        passed = scan(forwarded)
        grown = {
            name: None if passed.get(name, set()) is None
            else passed.get(name, set()) - _named(fn)
            for name, fn in splatting.items()
        }
        if grown == forwarded:
            break
        forwarded = grown
    total, flagged = 0, []
    for path in _py_files(gated_files):
        for fn in trees[path].body:
            if not _public_names(fn, _FUNC):
                continue
            ks = passed.get(fn.name, set())
            for param in _defaulted(fn):
                total += 1
                if ks is not None and param not in ks:
                    flagged.append(
                        f"{path.relative_to(ROOT)}:{fn.lineno} {fn.name}.{param}")
    return total, flagged


def test_no_unpassed_public_parameters():
    total, flagged = unpassed_parameters()
    assert not flagged, (
        f"{len(flagged)} of {total} defaulted parameters of public functions"
        " are passed by no call (make each a constant):\n" + "\n".join(flagged)
    )


#: pipeline options that only tests set, each kept because it is the
#: only route to a stage or an input kind
TEST_ONLY_ROUTES = {
    "e3_arrivals.as_wire": "the wire-JSON output",
    "e4_corpus_prep.embedding_col": "the semantic near-dup tier",
    "e4_corpus_prep.embedding_dim": "the semantic tier; must match the input vectors",
    "e4_corpus_prep.mix_factors": "the train-split domain mix",
    "e4_corpus_prep.epoch": "the train-split domain mix",
    "corpus_ingest_batch.min_quality":
        "0.0 is the only way a zero-token document reaches the index",
    "corpus_ingest_batch.vec_col": "the semantic tier",
    "corpus_ingest_batch.embedding_index_path": "the semantic tier",
    "corpus_ingest_batch.centroids": "the semantic tier",
    "e6_crawl_corpus.input_format": "WET input",
    "e6_crawl_corpus.host_cap_mode": "the mega-host approximate cap",
    "stream_crawl_corpus_ingest.input_format": "WET input for the stream",
}


def test_pipeline_options_have_non_test_callers():
    """An option of a pipeline entry point that only tests set has one
    value in use; it is a constant unless it routes to a capability
    (``TEST_ONLY_ROUTES``)."""
    total, flagged = unpassed_parameters(
        [f for f in _py_files(SEARCH)
         if "tests" not in f.relative_to(ROOT).parts],
        [PACKAGE / "pipelines.py", PACKAGE / "streaming" / "ingest.py"],
    )
    unkept = [f for f in flagged if f.split()[-1] not in TEST_ONLY_ROUTES]
    assert not unkept, (
        f"{len(unkept)} of {total} defaulted pipeline parameters are set"
        " by tests only (make each a constant, or add it to"
        " TEST_ONLY_ROUTES with the capability it reaches):\n"
        + "\n".join(unkept)
    )
