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
- Every parameter, with or without a default, of a function or method
  of sonar_spark/ or a private top-level helper of __spark_entry__.py
  gets two different values from the calls outside tests/ (calls
  matched by the callee's name, a class's __init__ by the class name,
  import aliases resolved).  A call gives the literal it passes (by
  keyword or position), or the default when it passes nothing; a
  variable, *args or **kwargs varies.  A parameter with one value in
  use is a knob nobody turns, and belongs in the body as a constant or
  a literal.  PARAM_SEAMS lists the few that stay parameters because a
  test passes them to reach a path; a parameter the frozen bench.py or
  perfbench/ pass stays too (today catalog_table(n_entities,
  rows_per_entity) and lsh_candidate_pairs(with_est)).
- No call in sonar_spark/ or __spark_entry__.py passes a literal equal
  to the callee's default: such an argument says nothing, and it hid
  one-value parameters from the rule above.

Spark-free."""

from __future__ import annotations

import ast
import collections
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(REPO, "sonar_spark") + os.sep
TESTS = os.path.join(REPO, "tests") + os.sep
ENTRY = os.path.join(REPO, "__spark_entry__.py")
# callers whose calls cannot change: a parameter they pass stays
FROZEN = ("bench.py", "perfbench" + os.sep)

# config fields kept settable although no caller outside tests/ sets them
CONFIG_FIELD_EXEMPT = {
    ("AsofConfig", "salt"): "the salted split of hot as-of entities is "
    "a north-star capability; the bucketed strategy reads it",
}

# default parameters kept although only tests pass them: each is a seam
# a test needs to reach a path, named with the tests that pass it
PARAM_SEAMS = {
    "CurationJob.run(fail_after)": "test_curation_job.py::"
    "test_curation_job_kill_resume_identity injects a crash mid-run",
    "CurationJob.run_chunks(fail_after)": "test_curation_job.py::"
    "test_chunk_stage_kill_resume_identity injects a crash mid-run",
    "FeaturizeJob.run(fail_after)": "test_resume.py::"
    "test_resume_after_injected_failure injects a crash mid-run",
    "xcorr_normalized(fft_threshold)": "test_align.py::"
    "test_xcorr_fft_agrees_with_time_domain forces both xcorr branches",
    "dtw_align(band)": "test_align.py::test_dtw_matches_naive and "
    "test_dtw_identical_zero run the unbanded and banded recursions",
}


def _py_sources(repo: str = REPO) -> dict[str, str]:
    out = {}
    for root, dirs, files in os.walk(repo):
        dirs[:] = [d for d in dirs if not d.startswith((".", "__"))]
        for f in files:
            if f.endswith(".py"):
                p = os.path.join(root, f)
                with open(p) as fh:
                    out[p] = fh.read()
    return out


def _trees(repo: str = REPO) -> dict[str, ast.Module]:
    return {p: ast.parse(src) for p, src in _py_sources(repo).items()}


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


def _checked_functions(trees: dict[str, ast.Module], pkg: str, entry: str):
    """(path, qualified name, callee name, self offset, node) for every
    function and method in ``pkg`` (nested ones included) and every
    private top-level function of ``entry``."""
    for path, tree in trees.items():
        if path == entry:
            for node in tree.body:
                if isinstance(node, ast.FunctionDef) and node.name.startswith(
                    "_"
                ) and not node.name.startswith("__"):
                    yield path, node.name, node.name, 0, node
        if not path.startswith(pkg):
            continue
        stack = [(tree, None)]
        while stack:
            parent, cls = stack.pop()
            for node in ast.iter_child_nodes(parent):
                if isinstance(node, ast.ClassDef):
                    stack.append((node, node))
                    continue
                owner = cls if parent is cls else None
                if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    if owner is None:
                        yield path, node.name, node.name, 0, node
                    else:
                        static = any(
                            ast.unparse(d) == "staticmethod"
                            for d in node.decorator_list
                        )
                        callee = (
                            owner.name if node.name == "__init__" else node.name
                        )
                        yield (
                            path, f"{owner.name}.{node.name}", callee,
                            0 if static else 1, node,
                        )
                stack.append((node, owner))


def _calls_by_callee(trees: dict[str, ast.Module], tests: str):
    """callee name -> [(path, line, positional args, keywords, partial)] of
    every call outside ``tests``; ``partial(f, ...)`` counts as a call
    of ``f`` whose unbound parameters vary, and a call through
    ``from m import f as g`` as a call of ``f``."""
    calls = collections.defaultdict(list)
    for path, tree in trees.items():
        if path.startswith(tests):
            continue
        alias = {
            a.asname: a.name
            for n in ast.walk(tree)
            if isinstance(n, ast.ImportFrom)
            for a in n.names
            if a.asname
        }
        for n in ast.walk(tree):
            if not isinstance(n, ast.Call):
                continue
            func, args = n.func, n.args
            partial = (
                getattr(func, "id", getattr(func, "attr", None)) == "partial"
                and bool(args)
            )
            if partial:
                func, args = args[0], args[1:]
            if isinstance(func, ast.Attribute):
                name = func.attr
            elif isinstance(func, ast.Name):
                name = alias.get(func.id, func.id)
            else:
                continue
            calls[name].append((path, n.lineno, args, n.keywords, partial))
    return calls


_VARIES = "<varies>"


def _literal(node: ast.expr | None):
    """A token for the value of a literal expression, else None."""
    try:
        v = ast.literal_eval(node)
    except (ValueError, TypeError, RecursionError):
        return None
    return f"{type(v).__name__}:{v!r}"


def _params(node, offset: int):
    """(name, positional index or None, default token or None) of every
    parameter of a function node but the ``self`` its calls omit; a
    default that is not a literal is its source text."""
    a = node.args
    pos = (a.posonlyargs + a.args)[offset:]
    defaults = [None] * (len(pos) - len(a.defaults)) + a.defaults
    out = [
        (p.arg, i, d and (_literal(d) or ast.unparse(d)))
        for i, (p, d) in enumerate(zip(pos, defaults))
    ]
    out += [
        (p.arg, None, d and (_literal(d) or ast.unparse(d)))
        for p, d in zip(a.kwonlyargs, a.kw_defaults)
    ]
    return out


def _argument(call, name: str, index: int | None):
    """The node a call passes for a parameter (an ``ast.Starred`` or a
    ``**`` keyword when one may carry it), None when it passes none."""
    _, _, args, keywords, _ = call
    for k in keywords:
        if k.arg == name:
            return k.value
    if index is not None:
        for i, a in enumerate(args):
            if isinstance(a, ast.Starred) or i == index:
                return a
    return next((k for k in keywords if k.arg is None), None)


def _value(call, name: str, index: int | None, default):
    """The value one call gives a parameter: the literal it passes, the
    default when it passes nothing, ``_VARIES`` for anything else."""
    arg = _argument(call, name, index)
    if arg is None:
        return _VARIES if call[4] or default is None else default
    return _literal(arg) or _VARIES


def _is_frozen(repo: str, path: str) -> bool:
    return os.path.relpath(path, repo).startswith(FROZEN)


def one_value_parameters(repo: str = REPO) -> list[str]:
    """``path:line:Qual(param)`` for every parameter of a function or
    method of sonar_spark/, or of a private top-level helper of
    __spark_entry__.py, that the calls outside tests/ give only one
    value: each passes the same literal, or passes nothing and gets the
    default (a parameter no call reaches has its default, if any, as
    its one value).  A parameter a frozen caller passes is exempt."""
    trees = _trees(repo)
    pkg = os.path.join(repo, "sonar_spark") + os.sep
    calls = _calls_by_callee(trees, os.path.join(repo, "tests") + os.sep)
    out = []
    for path, qual, callee, offset, node in _checked_functions(
        trees, pkg, os.path.join(repo, "__spark_entry__.py")
    ):
        for name, index, default in _params(node, offset):
            site = calls[callee]
            if any(
                _is_frozen(repo, c[0]) and _argument(c, name, index) is not None
                for c in site
            ):
                continue
            values = {_value(c, name, index, default) for c in site}
            if not site:
                values = {default} - {None}
            if len(values) == 1 and _VARIES not in values:
                out.append(
                    f"{os.path.relpath(path, repo)}:{node.lineno}:{qual}({name})"
                )
    return out


def redundant_default_arguments(repo: str = REPO) -> list[str]:
    """``path:line:callee(param)`` for every argument a call in
    sonar_spark/ or __spark_entry__.py passes as a literal equal to the
    callee's default (a callee name several checked functions share
    counts only where all of them have that default)."""
    trees = _trees(repo)
    pkg = os.path.join(repo, "sonar_spark") + os.sep
    entry = os.path.join(repo, "__spark_entry__.py")
    sigs = collections.defaultdict(list)
    for _, _, callee, offset, node in _checked_functions(trees, pkg, entry):
        sigs[callee].append(_params(node, offset))
    calls = _calls_by_callee(trees, os.path.join(repo, "tests") + os.sep)
    out = []
    for callee, site in calls.items():
        if callee not in sigs:
            continue
        for call in site:
            if not (call[0].startswith(pkg) or call[0] == entry):
                continue
            for name in sorted({p[0] for p in sigs[callee][0]}):
                if all(
                    any(
                        p == name
                        and d is not None
                        and _literal(_argument(call, p, i)) == d
                        for p, i, d in params
                    )
                    for params in sigs[callee]
                ):
                    out.append(
                        f"{os.path.relpath(call[0], repo)}:{call[1]}:"
                        f"{callee}({name})"
                    )
    return out


def test_every_parameter_gets_two_values_outside_tests():
    one = [
        p for p in one_value_parameters()
        if p.split(":")[-1] not in PARAM_SEAMS
    ]
    assert one == [], f"{len(one)}: {one}"


def test_no_call_passes_a_default():
    redundant = redundant_default_arguments()
    assert redundant == [], f"{len(redundant)}: {redundant}"


def test_param_seams_are_still_seams():
    """Every PARAM_SEAMS entry still names a parameter that gets one
    value outside tests/ (a seam a caller now varies leaves the list)."""
    one = {p.split(":")[-1] for p in one_value_parameters()}
    assert set(PARAM_SEAMS) <= one, set(PARAM_SEAMS) - one
    assert len(PARAM_SEAMS) <= 8


def test_unpassed_rule_on_synthetic_sources(tmp_path):
    """The one-value rule itself, on a synthetic repo: only-tests
    callers do not count; a literal passed by keyword, by position, an
    import alias or functools.partial counts as its value, a call that
    passes nothing as the default; a variable, *args or **kwargs
    varies; an __init__ is called by its class name, a method by its
    attribute name; a parameter bench.py or perfbench/ passes is
    exempt; public helpers of __spark_entry__.py are not checked.  The
    redundant-argument rule flags a literal equal to the default."""
    sources = {
        "sonar_spark/mod.py": (
            "def only_tests(df, k=1): pass\n"
            "def by_keyword(df, k=1): pass\n"
            "def by_position(df, k=1): pass\n"
            "def by_star(df, k=1): pass\n"
            "def by_kwargs(df, *, k=1): pass\n"
            "def by_alias(df, k=1): pass\n"
            "def by_partial(df, k=1): pass\n"
            "def default_passed(df, k=1): pass\n"
            "def same_literal(df, k): pass\n"
            "def two_values(df, k=1): pass\n"
            "def by_variable(df, k): pass\n"
            "def frozen(df, n=8): pass\n"
            "class Job:\n"
            "    def __init__(self, root, n=2): pass\n"
            "    def run(self, df, fail_after=None): pass\n"
            "    def other(self, df, m=3): pass\n"
        ),
        "__spark_entry__.py": (
            "from functools import partial\n"
            "from sonar_spark.mod import *\n"
            "from sonar_spark.mod import by_alias as ba\n"
            "def _helper(x, y=0): pass\n"
            "def _called(x, y=0): pass\n"
            "def public(x, y=0): pass\n"
            "def q(d, args, kw, v):\n"
            "    by_keyword(d, k=2)\n"
            "    by_keyword(d)\n"
            "    by_position(d, 2)\n"
            "    by_position(d)\n"
            "    by_star(*args)\n"
            "    by_kwargs(d, **kw)\n"
            "    ba(d, k=2)\n"
            "    ba(d, k=3)\n"
            "    partial(by_partial, k=2)\n"
            "    default_passed(d, k=1)\n"
            "    default_passed(d, 1)\n"
            "    same_literal(d, 4)\n"
            "    same_literal(d, k=4)\n"
            "    two_values(d, k=2)\n"
            "    two_values(d)\n"
            "    by_variable(d, v)\n"
            "    by_variable(d, 4)\n"
            "    frozen(d)\n"
            "    Job(d, 4).run(d)\n"
            "    Job(d).other(d)\n"
            "    Job(d).run(d, 3)\n"
            "    _called(d, y=2)\n"
            "    _called(d)\n"
            "    by_partial(d)\n"
        ),
        "perfbench/layers.py": "frozen(1, n=8)\n",
        "tests/test_mod.py": (
            "only_tests(1, k=2)\nJob('r').other(1, m=4)\n_helper(1, 2)\n"
        ),
    }
    for rel, src in sources.items():
        (tmp_path / rel).parent.mkdir(parents=True, exist_ok=True)
        (tmp_path / rel).write_text(src)
    got = sorted(
        p.split(":")[-1] for p in one_value_parameters(str(tmp_path))
    )
    assert got == [
        "Job.other(m)",
        "_helper(y)",
        "default_passed(k)",
        "only_tests(k)",
        "same_literal(k)",
    ], got
    redundant = sorted(
        p.split(":", 1)[1] for p in redundant_default_arguments(str(tmp_path))
    )
    assert redundant == ["17:default_passed(k)", "18:default_passed(k)"], redundant
