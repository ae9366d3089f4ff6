"""Every module of the ``dedup`` package must be reached by product code:
imported from ``dedup/``, ``__spark_entry__.py``, ``bench*.py``,
``perfbench/`` or ``tools/``, or run by the Makefile. A module only the
tests import is dead weight in the package; it belongs in ``tests/`` as an
oracle, or nowhere."""

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


def test_every_dedup_module_is_reached_by_product_code():
    modules = {_module_name(rel): rel for rel in _py_files("dedup")}
    sources = list(modules.values()) + ["__spark_entry__.py"]
    sources += [f for f in os.listdir(ROOT) if f.startswith("bench") and f.endswith(".py")]
    sources += _py_files("perfbench") + _py_files("tools")

    reached = set()
    for rel in sources:
        # a module importing itself (or its own package) does not count
        reached |= {m for m in _imported(rel) if m in modules and modules[m] != rel}
    with open(os.path.join(ROOT, "Makefile")) as fh:
        make = fh.read()
    reached |= {_module_name(p) for p in re.findall(r"\bdedup/[\w/]+\.py\b", make)}
    reached |= set(re.findall(r"-m (dedup(?:\.\w+)+)", make))

    assert sorted(set(modules) - reached) == []
