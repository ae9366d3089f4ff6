"""The traced benchmark run (perfbench/spans.py) names product functions by
string. A rename in dedup/ must fail here, not silently empty a layer of
the traced report."""

import importlib.util
import os
import re

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _spans():
    path = os.path.join(ROOT, "perfbench", "spans.py")
    spec = importlib.util.spec_from_file_location("perfbench_spans", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_operator_spans_resolve():
    for obj, attr, span in _spans().OPERATOR_SPANS:
        assert callable(getattr(obj, attr, None)), f"{obj.__name__}.{attr} ({span})"


def test_kernel_functions_exist():
    sources = {}
    for d, _, files in os.walk(os.path.join(ROOT, "dedup")):
        for f in files:
            if f.endswith(".py"):
                sources.setdefault(f, []).append(os.path.join(d, f))
    for metric, (fname, fn) in _spans().KERNELS.items():
        paths = sources.get(fname, [])
        assert len(paths) == 1, f"{metric}: {fname} matches {paths}"
        with open(paths[0]) as fh:
            src = fh.read()
        assert re.search(rf"\bdef {re.escape(fn)}\(", src), f"{metric}: no {fn} in {paths[0]}"
