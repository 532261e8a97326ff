"""No unreferenced code, counted by code references, not word matches.

- Every top-level function, class and module-level constant in
  sonar_spark/, and every private top-level helper of
  __spark_entry__.py, is referred to in code (an ast.Name, an
  ast.Attribute or an import alias) by some Python file outside
  tests/, other than by its own definition.  A name that only a
  docstring, a comment, a SQL string or a column alias mentions is
  unreferenced.  References from tests/ do not count: code only tests
  reach is either a reference implementation, which belongs in tests/,
  or a capability with no caller.
- No top-level function or class name is defined in two sonar_spark/
  modules (a same-named twin hides a dead copy, and two copies of one
  helper drift).
- Every name a sonar_spark/ module or __spark_entry__.py imports is
  loaded somewhere in that module.
- Every field of a sonar_spark/config.py dataclass is set, by keyword
  or by position, somewhere outside tests/: a field that no caller
  sets has one value in use and belongs next to the code that reads
  it as a constant.

Spark-free."""

from __future__ import annotations

import ast
import collections
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(REPO, "sonar_spark") + os.sep
TESTS = os.path.join(REPO, "tests") + os.sep
ENTRY = os.path.join(REPO, "__spark_entry__.py")

# config fields kept settable although no caller outside tests/ sets them
CONFIG_FIELD_EXEMPT = {
    ("AsofConfig", "salt"): "the salted split of hot as-of entities is "
    "a north-star capability; the bucketed strategy reads it",
}


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


def _trees() -> dict[str, ast.Module]:
    return {p: ast.parse(src) for p, src in _py_sources().items()}


def _package_defs(trees: dict[str, ast.Module]):
    """(path, node) for every top-level def/class in sonar_spark/
    (dunders ignored)."""
    for path, tree in trees.items():
        if not path.startswith(PKG):
            continue
        for node in tree.body:
            if isinstance(
                node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ) and not node.name.startswith("__"):
                yield path, node


def _checked_defs(trees: dict[str, ast.Module]):
    """(path, name, node) for the package's top-level defs, classes
    and module-level constants, and the private top-level defs of
    __spark_entry__.py."""
    for path, node in _package_defs(trees):
        yield path, node.name, node
    for path, tree in trees.items():
        if path.startswith(PKG):
            for node in tree.body:
                if isinstance(node, (ast.Assign, ast.AnnAssign)):
                    targets = (
                        node.targets
                        if isinstance(node, ast.Assign)
                        else [node.target]
                    )
                    for t in targets:
                        for n in ast.walk(t):
                            if isinstance(n, ast.Name) and not n.id.startswith(
                                "__"
                            ):
                                yield path, n.id, node
        elif path == ENTRY:
            for node in tree.body:
                if isinstance(
                    node, (ast.FunctionDef, ast.ClassDef)
                ) and node.name.startswith("_") and not node.name.startswith(
                    "__"
                ):
                    yield path, node.name, node


def _code_references(trees: dict[str, ast.Module]):
    """name -> [(path, lineno)] of every ast.Name, ast.Attribute and
    import alias outside tests/."""
    refs = collections.defaultdict(list)
    for path, tree in trees.items():
        if path.startswith(TESTS):
            continue
        for n in ast.walk(tree):
            if isinstance(n, ast.Name):
                refs[n.id].append((path, n.lineno))
            elif isinstance(n, ast.Attribute):
                refs[n.attr].append((path, n.lineno))
            elif isinstance(n, ast.alias):
                for part in n.name.split("."):
                    refs[part].append((path, n.lineno))
    return refs


def test_no_unreferenced_top_level_names():
    trees = _trees()
    refs = _code_references(trees)
    unreferenced = []
    for path, name, node in _checked_defs(trees):
        if all(
            p == path and node.lineno <= line <= node.end_lineno
            for p, line in refs[name]
        ):
            unreferenced.append(f"{os.path.relpath(path, REPO)}:{name}")
    assert unreferenced == [], unreferenced


def test_no_top_level_name_defined_in_two_modules():
    modules = collections.defaultdict(set)
    for path, node in _package_defs(_trees()):
        modules[node.name].add(os.path.relpath(path, REPO))
    twice = {n: sorted(ps) for n, ps in modules.items() if len(ps) > 1}
    assert twice == {}, twice


def test_no_unused_imports():
    unused = []
    for path, tree in _trees().items():
        if not path.startswith(PKG) and path != ENTRY:
            continue
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
                        unused.append(
                            f"{os.path.relpath(path, REPO)}:{node.lineno}:{name}"
                        )
    assert unused == [], unused


def test_every_config_field_is_set_outside_tests():
    trees = _trees()
    fields = {}
    for node in trees[os.path.join(PKG, "config.py")].body:
        if isinstance(node, ast.ClassDef):
            fields[node.name] = [
                s.target.id
                for s in node.body
                if isinstance(s, ast.AnnAssign)
                and "ClassVar" not in ast.unparse(s.annotation)
            ]
    owners = collections.defaultdict(list)
    for cls, names in fields.items():
        for f in names:
            owners[f].append(cls)
    set_ = set()
    for path, tree in trees.items():
        if path.startswith(TESTS):
            continue
        for n in ast.walk(tree):
            if not isinstance(n, ast.Call):
                continue
            fn = getattr(n.func, "id", None) or getattr(n.func, "attr", None)
            if fn in fields:
                set_.update((fn, f) for f in fields[fn][: len(n.args)])
                set_.update((fn, k.arg) for k in n.keywords)
            elif fn == "replace":  # dataclasses.replace(cfg, field=...)
                set_.update(
                    (cls, k.arg) for k in n.keywords for cls in owners[k.arg]
                )
    never = [
        f"{cls}.{f}"
        for cls, names in fields.items()
        for f in names
        if (cls, f) not in set_ and (cls, f) not in CONFIG_FIELD_EXEMPT
    ]
    assert never == [], never
