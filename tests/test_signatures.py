"""Every defaulted parameter of the package is one some caller passes,
and the package has one ``mapInPandas`` call.

A defaulted parameter that no call passes is a constant written as a
knob. Counting rule: a defaulted parameter of a function defined under
``optimizerasters_spark/`` counts as passed if some call in the repo's
``.py`` files (the package, ``jobs/``, ``perfbench/``, ``tests/`` and
the root scripts; ``plans/`` is not read) passes it, by keyword or by
position, to a function of that name. A class's ``__init__`` is called
by the class name, and a method's positions start after ``self``.
Pure ``ast``: no Spark.
"""

from __future__ import annotations

import ast
import os
from collections import defaultdict

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "optimizerasters_spark"
CALLER_DIRS = (PACKAGE, "jobs", "perfbench", "tests")

# Defaulted parameters that stay although no call passes them:
# deployment choices of the streaming queries and the config reader's
# fallback.
ALLOWED = {
    ("config.py", "Config.get_boolean", "default"),
    ("streaming/snapshot.py", "run_incremental", "available_now"),
    ("streaming/snapshot.py", "run_incremental", "processing_time"),
    ("streaming/snapshot.py", "streaming_exact_dedup", "watermark"),
    ("streaming/snapshot.py", "windowed_rates", "watermark"),
    ("streaming/snapshot.py", "windowed_rates", "window"),
    ("streaming/snapshot.py", "streaming_corpus_ingest", "available_now"),
}
# Upper bound on the package's defaulted parameters (ROADMAP aim 2).
MAX_DEFAULTED = 150


def _files(top: str):
    for d, dirs, names in os.walk(top):
        dirs[:] = [x for x in dirs if x != "__pycache__"]
        yield from (os.path.join(d, n) for n in names if n.endswith(".py"))


def _caller_files():
    yield from (os.path.join(ROOT, n) for n in os.listdir(ROOT)
                if n.endswith(".py"))
    for d in CALLER_DIRS:
        yield from _files(os.path.join(ROOT, d))


def _parse(path: str) -> ast.Module:
    with open(path, encoding="utf-8") as f:
        return ast.parse(f.read(), path)


def defaulted_params():
    """(file, qualname, call name, param, position or None) for every
    defaulted parameter of a function defined under the package."""
    out = []

    def visit(node, path, scope):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, ast.ClassDef):
                visit(child, path, scope + [("class", child.name)])
            elif isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                method = bool(scope) and scope[-1][0] == "class"
                static = any(isinstance(d, ast.Name) and d.id == "staticmethod"
                             for d in child.decorator_list)
                skip = 1 if method and not static else 0
                name = (scope[-1][1] if method and child.name == "__init__"
                        else child.name)
                qual = ".".join([s[1] for s in scope] + [child.name])
                a = child.args
                pos = a.posonlyargs + a.args
                first = len(pos) - len(a.defaults)
                for i, p in enumerate(pos[first:], first):
                    out.append((path, qual, name, p.arg, i - skip))
                for p, d in zip(a.kwonlyargs, a.kw_defaults):
                    if d is not None:
                        out.append((path, qual, name, p.arg, None))
                visit(child, path, scope + [("def", child.name)])
            else:
                visit(child, path, scope)

    pkg = os.path.join(ROOT, PACKAGE)
    for path in _files(pkg):
        visit(_parse(path), os.path.relpath(path, pkg), [])
    return out


def passed_args():
    """Per called name: the keywords passed and the most positions."""
    keywords, positions = defaultdict(set), defaultdict(int)
    for path in _caller_files():
        for call in ast.walk(_parse(path)):
            if not isinstance(call, ast.Call):
                continue
            f = call.func
            name = f.id if isinstance(f, ast.Name) else \
                f.attr if isinstance(f, ast.Attribute) else None
            if name is None:
                continue
            keywords[name].update(k.arg for k in call.keywords if k.arg)
            n = sum(not isinstance(a, ast.Starred) for a in call.args)
            positions[name] = max(positions[name], n)
    return keywords, positions


def never_passed():
    keywords, positions = passed_args()
    return {(path, qual, param)
            for path, qual, name, param, pos in defaulted_params()
            if param not in keywords[name]
            and (pos is None or pos >= positions[name])}


def test_every_defaulted_parameter_is_passed():
    never = never_passed()
    assert never - ALLOWED == set(), (
        "defaulted parameters no call passes (make each a constant): "
        f"{sorted(never - ALLOWED)}")
    assert ALLOWED - never == set(), (
        f"stale allowlist entries, now passed or gone: "
        f"{sorted(ALLOWED - never)}")


def test_defaulted_parameter_budget():
    n = len(defaulted_params())
    assert n <= MAX_DEFAULTED, (
        f"{n} defaulted parameters under {PACKAGE}/, budget "
        f"{MAX_DEFAULTED}")


def test_one_map_in_pandas_call():
    """Every blob stage is a parser behind ``functions/blobs.py``'s
    ``expand_blobs``; no other module hand-rolls an Arrow batch loop."""
    pkg = os.path.join(ROOT, PACKAGE)
    calls = [(os.path.relpath(path, pkg), node.lineno)
             for path in _files(pkg) for node in ast.walk(_parse(path))
             if isinstance(node, ast.Call)
             and isinstance(node.func, ast.Attribute)
             and node.func.attr == "mapInPandas"]
    assert [f for f, _ in calls] == ["functions/blobs.py"], calls
