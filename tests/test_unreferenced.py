"""No unreferenced code: every top-level function and class in
sonar_spark/ is mentioned by some Python file in the repo outside its
own definition.  Spark-free."""

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


def test_no_unreferenced_top_level_names():
    sources = _py_sources()
    mentions = collections.Counter()
    for src in sources.values():
        mentions.update(WORD.findall(src))
    pkg = os.path.join(REPO, "sonar_spark") + os.sep
    unreferenced = []
    for path, src in sources.items():
        if not path.startswith(pkg):
            continue
        lines = src.splitlines()
        for node in ast.parse(src).body:
            if not isinstance(
                node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ) or node.name.startswith("__"):
                continue
            own = WORD.findall(
                "\n".join(lines[node.lineno - 1 : node.end_lineno])
            )
            if mentions[node.name] == own.count(node.name):
                unreferenced.append(
                    f"{os.path.relpath(path, REPO)}:{node.name}"
                )
    assert unreferenced == [], unreferenced
