"""Every top-level package definition is reached from a query, the CLI,
a tool or the benchmark — or is on the kept list with its reason.

Definitions: top-level defs and classes, and, outside ``__init__.py``,
top-level ``NAME = ...`` / ``NAME: T = ...`` constants (dunders
excepted). Roots: every other package statement outside a top-level
def/class (``from ... import`` re-exports in ``__init__.py``
excepted), all of ``tools/``, ``perfbench/`` (its tests excepted),
``bench.py`` and ``__spark_entry__.py``, plus KEPT. A
reference is a Name, an Attribute, an ImportFrom name or an identifier
string constant; reach is transitive through the reached definitions'
bodies. A module-level ``from m import n`` in a package module other
than ``__init__.py`` counts only when that module uses ``n``, so a
stale import keeps nothing alive. Name-based, so a same-named
definition anywhere is reached too.
"""

import ast
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

KEPT = {
    "compact_packs": "pack compaction, an open ROADMAP item (6)",
    "dead_letter_stream": "retired with malformed-line routing (ROADMAP item 10)",
    "write_dead_letters": "retired with malformed-line routing (ROADMAP item 10)",
    "run_supervised": "retired with the replayable TCP ingest (ROADMAP item 11)",
    "watch_idle": "retired with the replayable TCP ingest (ROADMAP item 11)",
}


def _files(top):
    skip = os.path.join(REPO, "perfbench", "tests")
    for d, _, files in os.walk(os.path.join(REPO, top)):
        if not d.startswith(skip):
            yield from (os.path.join(d, f) for f in files if f.endswith(".py"))


def _tree(path):
    with open(path) as fh:
        return ast.parse(fh.read())


def _refs(node):
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.ImportFrom):
            out.update(a.name for a in n.names)
        elif isinstance(n, ast.Constant) and isinstance(n.value, str):
            if n.value.isidentifier():
                out.add(n.value)
    return out


def _constant_names(st, path):
    """The names a top-level constant assignment defines, or () when the
    statement is a root (``__init__.py``, dunders, non-name targets)."""
    if path.endswith("__init__.py"):
        return ()
    if isinstance(st, ast.Assign):
        targets = st.targets
    elif isinstance(st, ast.AnnAssign) and st.value is not None:
        targets = [st.target]
    else:
        return ()
    if not all(isinstance(t, ast.Name) for t in targets):
        return ()
    names = [t.id for t in targets]
    return () if any(n.startswith("__") for n in names) else names


def _scan():
    """(definitions as {name: [(path, node)]}, reached names)."""
    defs, todo = {}, set(KEPT)
    for path in _files("tower_parse_spark"):
        body = _tree(path).body
        imports = [st for st in body if isinstance(st, ast.ImportFrom)]
        used = set().union(*(_refs(st) for st in body if st not in imports))
        for st in body:
            if isinstance(st, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                defs.setdefault(st.name, []).append((path, st))
            elif _constant_names(st, path):
                for name in _constant_names(st, path):
                    defs.setdefault(name, []).append((path, st))
            elif isinstance(st, ast.ImportFrom):
                if not path.endswith("__init__.py"):
                    todo |= _refs(st) & used
            else:
                todo |= _refs(st)
    roots = [*_files("tools"), *_files("perfbench")]
    for path in roots + [os.path.join(REPO, f) for f in ("bench.py", "__spark_entry__.py")]:
        todo |= _refs(_tree(path))
    reached = set()
    while todo:
        name = todo.pop()
        reached.add(name)
        for _, st in defs.get(name, []):
            todo |= _refs(st) - reached
    return defs, reached


def test_every_package_definition_is_reached():
    defs, reached = _scan()
    stale = sorted(set(KEPT) - set(defs))
    assert not stale, f"KEPT names no package definition: {stale}"
    unreached = sorted(
        f"{os.path.relpath(path, REPO)}:{st.lineno} {name}"
        for name, sites in defs.items() if name not in reached
        for path, st in sites
    )
    assert not unreached, f"{len(unreached)} unreached:\n" + "\n".join(unreached)
