"""No unreferenced code: every top-level function and class in
sonar_spark/ is mentioned by some Python file outside tests/ and
outside its own definition, and no such name is defined in two
sonar_spark/ modules (a same-named twin would hide a dead copy from
the mention count, and two copies of one helper drift).  Mentions in
tests/ do not count: code only tests reach is either a reference
implementation, which belongs in tests/, or a capability with no
caller.  And every name a sonar_spark/ module or __spark_entry__.py
imports is loaded somewhere in that module.  Spark-free."""

from __future__ import annotations

import ast
import collections
import os
import re

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORD = re.compile(r"\w+")


def _py_sources() -> dict[str, str]:
    out = {}
    for root, dirs, files in os.walk(REPO):
        dirs[:] = [d for d in dirs if not d.startswith((".", "__"))]
        for f in files:
            if f.endswith(".py"):
                p = os.path.join(root, f)
                with open(p) as fh:
                    out[p] = fh.read()
    return out


def _package_defs(sources: dict[str, str]):
    """(path, src, node) for every top-level def/class in sonar_spark/
    (dunders ignored)."""
    pkg = os.path.join(REPO, "sonar_spark") + os.sep
    for path, src in sources.items():
        if not path.startswith(pkg):
            continue
        for node in ast.parse(src).body:
            if isinstance(
                node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ) and not node.name.startswith("__"):
                yield path, src, node


def test_no_unreferenced_top_level_names():
    sources = _py_sources()
    tests = os.path.join(REPO, "tests") + os.sep
    mentions = collections.Counter()
    for path, src in sources.items():
        if not path.startswith(tests):
            mentions.update(WORD.findall(src))
    unreferenced = []
    for path, src, node in _package_defs(sources):
        own = WORD.findall(
            "\n".join(src.splitlines()[node.lineno - 1 : node.end_lineno])
        )
        if mentions[node.name] == own.count(node.name):
            unreferenced.append(f"{os.path.relpath(path, REPO)}:{node.name}")
    assert unreferenced == [], unreferenced


def test_no_top_level_name_defined_in_two_modules():
    modules = collections.defaultdict(set)
    for path, _src, node in _package_defs(_py_sources()):
        modules[node.name].add(os.path.relpath(path, REPO))
    twice = {n: sorted(ps) for n, ps in modules.items() if len(ps) > 1}
    assert twice == {}, twice


def test_no_unused_imports():
    unused = []
    for path, src in _py_sources().items():
        rel = os.path.relpath(path, REPO)
        if not rel.startswith("sonar_spark" + os.sep) and rel != "__spark_entry__.py":
            continue
        tree = ast.parse(src)
        loaded = {
            n.id
            for n in ast.walk(tree)
            if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Load)
        }
        for node in ast.walk(tree):
            if isinstance(node, ast.ImportFrom) and node.module == "__future__":
                continue
            if isinstance(node, (ast.Import, ast.ImportFrom)):
                for a in node.names:
                    name = (a.asname or a.name).split(".")[0]
                    if name not in loaded:
                        unused.append(f"{rel}:{node.lineno}:{name}")
    assert unused == [], unused
