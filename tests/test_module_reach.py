"""Every module of the ``dedup`` package must be reached by product code:
imported from ``dedup/``, ``__spark_entry__.py``, ``bench*.py``,
``perfbench/`` or ``tools/``, or run by the Makefile. A module only the
tests import is dead weight in the package; it belongs in ``tests/`` as an
oracle, or nowhere. The same holds for every top-level function and class
in ``dedup/``."""

import ast
import os
import re

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _py_files(top: str) -> list[str]:
    out = []
    for d, _, files in os.walk(os.path.join(ROOT, top)):
        out += [os.path.relpath(os.path.join(d, f), ROOT) for f in files if f.endswith(".py")]
    return out


def _module_name(rel: str) -> str:
    name = rel[: -len(".py")].replace(os.sep, ".")
    return name[: -len(".__init__")] if name.endswith(".__init__") else name


def _imported(rel: str) -> set[str]:
    """Every dotted prefix of every absolute import in ``rel``, including
    ``from m import x`` read as ``m.x`` (x may be a submodule)."""
    with open(os.path.join(ROOT, rel)) as fh:
        tree = ast.parse(fh.read())
    names = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            names += [a.name for a in node.names]
        elif isinstance(node, ast.ImportFrom) and node.module and node.level == 0:
            names += [node.module] + [f"{node.module}.{a.name}" for a in node.names]
    out = set()
    for name in names:
        parts = name.split(".")
        out.update(".".join(parts[:i]) for i in range(1, len(parts) + 1))
    return out


def _product_sources() -> list[str]:
    sources = _py_files("dedup") + ["__spark_entry__.py"]
    sources += [f for f in os.listdir(ROOT) if f.startswith("bench") and f.endswith(".py")]
    return sources + _py_files("perfbench") + _py_files("tools")


def test_every_dedup_module_is_reached_by_product_code():
    modules = {_module_name(rel): rel for rel in _py_files("dedup")}
    sources = _product_sources()

    reached = set()
    for rel in sources:
        # a module importing itself (or its own package) does not count
        reached |= {m for m in _imported(rel) if m in modules and modules[m] != rel}
    with open(os.path.join(ROOT, "Makefile")) as fh:
        make = fh.read()
    reached |= {_module_name(p) for p in re.findall(r"\bdedup/[\w/]+\.py\b", make)}
    reached |= set(re.findall(r"-m (dedup(?:\.\w+)+)", make))

    assert sorted(set(modules) - reached) == []


# top-level definitions in dedup/ that product code may leave unreferenced
UNREFERENCED_OK = {
    # the streaming consumer API: readers of a streaming warehouse call it
    "corpus_prepared_view",
    # a test fixture builder; it stays in dedup/generate.py because that
    # file's hash keys bench.py's corpus cache
    "make_title_fixture",
}


def _references(rel: str) -> set[tuple[str, str]]:
    """(name, enclosing top-level definition or "") for every name and
    attribute ``rel`` reads. Docstrings are string constants, so a name
    mentioned only there is not a reference."""
    with open(os.path.join(ROOT, rel)) as fh:
        tree = ast.parse(fh.read())
    out = set()
    for top in tree.body:
        owner = getattr(top, "name", "")
        for node in ast.walk(top):
            if isinstance(node, ast.Name):
                out.add((node.id, owner))
            elif isinstance(node, ast.Attribute):
                out.add((node.attr, owner))
    return out


def test_every_dedup_definition_is_referenced_by_product_code():
    refs = {rel: _references(rel) for rel in _product_sources()}
    unreferenced = set()
    for rel in _py_files("dedup"):
        with open(os.path.join(ROOT, rel)) as fh:
            tree = ast.parse(fh.read())
        for node in tree.body:
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                continue
            name = node.name
            # a definition referring to itself (recursion) does not count
            if not any(
                n == name and (src != rel or owner != name)
                for src, names in refs.items()
                for n, owner in names
            ):
                unreferenced.add(name)
    # exactly the exceptions: an exception that gained a caller is dropped
    assert unreferenced == UNREFERENCED_OK
