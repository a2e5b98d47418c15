"""Guard against package code that only its own tests reach.

Pure AST, no Spark.  Every top-level definition (function, class or
module-level name) in ``serverless_podcast_etl_spark/`` must be
reachable from code outside ``tests/``.  The roots are ``examples/``,
``tools/``, ``perfbench/``, ``bench.py``, ``__spark_entry__.py`` and
the package's own module-level statements that define nothing; a
reached definition makes every name its body uses reachable in turn.
References match by name (``Name``, ``Attribute`` and imported
names), so f-string expressions count and docstrings and comments do
not.

``KEEP`` lists the definitions that stay although only tests reach
them, each with its reason.  Anything else this test reports does no
work for the system: delete it together with its tests.

The same holds for switches, the package parameters with a literal
default (``None``, ``bool``, ``int``, ``float`` or ``str``, written in
place or as a package constant).  A switch must get another value,
by keyword, by position or through a ``**`` dict display, from some
call:

* a ``bool`` or ``None`` from a call outside ``tests/``: either
  selects a branch, and otherwise the other branch runs only under
  test;
* any other literal from any call, tests included: a test that sweeps
  ``k`` or a threshold uses that parameter as a real input.  With one
  value in use, the value belongs in the code as a constant.

A bare name bound to the calling function's own switch with the same
default passes that switch through: it counts only if that switch
gets another value.  ``KEEP_SWITCHES`` lists the exceptions, each with
its reason.

The how-to docs (``DOCS``) may name only ``tools/`` and ``examples/``
scripts and package modules that exist.
"""

import ast
import re
from collections import defaultdict
from functools import lru_cache
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "serverless_podcast_etl_spark"
ROOTS = ["examples", "tools", "perfbench", "bench.py", "__spark_entry__.py"]
DOCS = ["README.md", ".claude/skills/verify/SKILL.md"]
# (path pattern, directory the named path is relative to)
DOC_PATHS = [
    (r"(?<![\w/])(?:tools|examples)/\w+\.py", ROOT),
    (r"(?<![\w/])(?:sources|pipeline|operators|functions|streaming|plans)"
     r"/\w+\.py", PACKAGE),
]

KEEP = {
    # The reference system's own seams.
    "fetch_rss_docs": "lambda_2's RSS feed fetch (SURVEY S5)",
    "RSS_DOC": "the parsed-feed shape lambda_2 consumes (S5)",
    # Reference implementations the live path is checked against.
    "grouped_ewma": "pandas twin of ewma_partitioned",
    "_assign_trained_cluster": "expression twin of _nearest_trained_int",
}

KEEP_SWITCHES = {
    # The reference's own bug, replayed so parity audits can show it.
    "sentiment_distribution.bug_compatible":
        "replays the reference's sentence_index-only join (J2)",
    "entity_sentiment_proportions.bug_compatible":
        "replays the reference's sentence_index-only join (J2)",
    # The benchmark's curation trace names the MinHash shape by keyword
    # (perfbench/curation.py); the defaults are dedup.MINHASH_*.
    "minhash_bands.n": "perfbench passes it by name",
    "minhash_bands.num_hashes": "perfbench passes it by name",
    "minhash_bands.bands": "perfbench passes it by name",
    "minhash_lsh_pairs.num_hashes": "perfbench passes it by name",
    "minhash_lsh_pairs.bands": "perfbench passes it by name",
    # A deployment setting: fetch_urls binds it through functools.partial.
    "urllib_transport.timeout": "per-deployment fetch timeout",
    "fetch_urls.timeout": "per-deployment fetch timeout",
    "fetch_urls.transport": "the seam through which tests substitute a fake",
    # perfbench/podcast.py's TracedWarehouse forwards it by position.
    "update_rows.partition_by": "perfbench passes it on",
}

LITERALS = (bool, int, float, str)


def _py_files(path):
    return [path] if path.is_file() else sorted(path.rglob("*.py"))


def _without_docstring(body):
    first = body[0] if body else None
    if (isinstance(first, ast.Expr) and isinstance(first.value, ast.Constant)
            and isinstance(first.value.value, str)):
        return body[1:]
    return body


def _names(nodes):
    """Every name the nodes refer to: loads, attributes and imports."""
    out = set()
    for node in nodes:
        for sub in ast.walk(node):
            if isinstance(sub, ast.Name):
                out.add(sub.id)
            elif isinstance(sub, ast.Attribute):
                out.add(sub.attr)
            elif isinstance(sub, ast.alias):
                out.add(sub.asname or sub.name.rsplit(".", 1)[-1])
    return out


def _defined(stmt):
    if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        return [stmt.name]
    targets = stmt.targets if isinstance(stmt, ast.Assign) else (
        [stmt.target] if isinstance(stmt, ast.AnnAssign) else [])
    return [t.id for t in targets
            if isinstance(t, ast.Name) and not t.id.startswith("__")]


def _uses(stmt):
    """Names a definition's own code uses; its docstring is no use."""
    if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef)):
        return _names([*stmt.decorator_list, stmt.args, *filter(None, [
            stmt.returns]), *_without_docstring(stmt.body)])
    if isinstance(stmt, ast.ClassDef):
        return _names([*stmt.decorator_list, *stmt.bases, *stmt.keywords,
                       *_without_docstring(stmt.body)])
    return _names([stmt])


@lru_cache(maxsize=None)
def package_graph():
    """``(definitions, roots)``: definitions as ``(qualname, name,
    uses)``; roots are the names used outside the package and by its
    module-level statements that define nothing."""
    defs, roots = [], set()
    for entry in ROOTS:
        for path in _py_files(ROOT / entry):
            roots |= _names([ast.parse(path.read_text(), filename=str(path))])
    for path in _py_files(PACKAGE):
        module = ".".join(path.relative_to(ROOT).with_suffix("").parts)
        tree = ast.parse(path.read_text(), filename=str(path))
        for stmt in _without_docstring(tree.body):
            names = _defined(stmt)
            if not names:
                roots |= _names([stmt])
            for name in names:
                defs.append((f"{module}.{name}", name, _uses(stmt)))
    return defs, roots


def unreached(keep=KEEP):
    defs, roots = package_graph()
    uses_of = defaultdict(set)
    for _, name, uses in defs:
        uses_of[name] |= uses
    reached, todo = set(), [*roots, *keep]
    while todo:
        name = todo.pop()
        if name not in reached:
            reached.add(name)
            todo.extend(uses_of[name])
    return sorted(qual for qual, name, _ in defs if name not in reached)


def test_every_package_definition_is_reached_outside_tests():
    dead = unreached()
    assert not dead, (
        "reached only from tests/ (delete them with their tests, or add a "
        "KEEP entry with its reason):\n  " + "\n  ".join(dead))


def test_keep_entries_are_defined_and_needed():
    defined = {name for _, name, _ in package_graph()[0]}
    assert set(KEEP) <= defined, sorted(set(KEEP) - defined)
    unneeded = [name for name in KEEP if not any(
        qual.endswith("." + name)
        for qual in unreached({k: v for k, v in KEEP.items() if k != name}))]
    assert not unneeded, f"reached without KEEP, drop them: {unneeded}"


def test_docs_name_only_existing_tools():
    missing = sorted({path for doc in DOCS for pattern, base in DOC_PATHS
                      for path in re.findall(pattern, (ROOT / doc).read_text())
                      if not (base / path).is_file()})
    assert not missing, f"docs name deleted files: {missing}"


def _literal(node, constants):
    """``(True, value)`` when ``node`` is ``None``, a literal of
    ``LITERALS`` or names a package constant bound to one, else
    ``(False, None)``."""
    if isinstance(node, ast.Constant) and (
            node.value is None or isinstance(node.value, LITERALS)):
        return True, node.value
    name = (node.id if isinstance(node, ast.Name) else
            node.attr if isinstance(node, ast.Attribute) else None)
    if name in constants:
        return True, constants[name]
    return False, None


def _same(a, b):
    return type(a) is type(b) and a == b


def _constants(package):
    """``{name: value}`` for module-level package names bound to a
    literal once (a name bound in several places is left out)."""
    found = defaultdict(list)
    for path in _py_files(package):
        for stmt in ast.parse(path.read_text(), filename=str(path)).body:
            target = (stmt.targets[0] if isinstance(stmt, ast.Assign)
                      and len(stmt.targets) == 1 else
                      stmt.target if isinstance(stmt, ast.AnnAssign) else None)
            value = getattr(stmt, "value", None)
            if (isinstance(target, ast.Name) and isinstance(value, ast.Constant)
                    and isinstance(value.value, LITERALS)):
                found[target.id].append(value.value)
    return {name: values[0] for name, values in found.items()
            if len(values) == 1}


def _switches(func, constants):
    """``{param: default}`` for a function's literal-default params,
    and its positional parameter names (``self``/``cls`` dropped)."""
    args = func.args
    positional = [a.arg for a in [*args.posonlyargs, *args.args]]
    pairs = [*zip(positional[len(positional) - len(args.defaults):],
                  args.defaults),
             *((a.arg, d) for a, d in zip(args.kwonlyargs, args.kw_defaults))]
    switches = {}
    for name, default in pairs:
        is_literal, value = _literal(default, constants)
        if is_literal:
            switches[name] = value
    if positional[:1] in (["self"], ["cls"]):
        positional = positional[1:]
    return switches, positional


def _dict_items(node, scopes):
    """``(key, value)`` pairs a ``**`` argument passes: a dict display,
    ``dict(k=v)``, or a name bound to either in the innermost enclosing
    function (or at module level) that binds it."""
    if isinstance(node, ast.Name):
        bound = [stmt.value for scope in reversed(scopes)
                 for stmt in (scope.body if isinstance(scope, ast.Module)
                              else ast.walk(scope))
                 if isinstance(stmt, ast.Assign)
                 and [getattr(t, "id", None) for t in stmt.targets]
                 == [node.id]]
        node = bound[0] if bound else None
    if isinstance(node, ast.Dict):
        return [(k.value, v) for k, v in zip(node.keys, node.values)
                if isinstance(k, ast.Constant) and isinstance(k.value, str)]
    if isinstance(node, ast.Call) and getattr(node.func, "id", "") == "dict":
        return [(kw.arg, kw.value) for kw in node.keywords if kw.arg]
    return []


def _params(func):
    args = func.args
    return {a.arg for a in [*args.posonlyargs, *args.args, *args.kwonlyargs]}


@lru_cache(maxsize=None)
def switch_graph(root=ROOT):
    """``(switches, flipped, overridden, through)`` for the package
    under ``root``.  ``switches`` maps ``"function.param"`` to its
    default; ``flipped`` holds the switches some call outside
    ``tests/`` passes another value, ``overridden`` those some call
    anywhere does; ``through`` maps an enclosing function's switch to
    the switches its calls pass it to unchanged."""
    package = root / PACKAGE.name
    constants = _constants(package)
    switches, positional = {}, defaultdict(list)
    for path in _py_files(package):
        for node in ast.walk(ast.parse(path.read_text(), filename=str(path))):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                found, names = _switches(node, constants)
                positional[node.name].append(names)
                switches.update({f"{node.name}.{k}": v
                                 for k, v in found.items()})
    flipped, overridden, through = set(), set(), defaultdict(set)

    def passed(call, scopes, in_tests):
        func = call.func
        callee = getattr(func, "id", None) or getattr(func, "attr", None)
        args = [*((p, a) for names in positional.get(callee, ())
                  for p, a in zip(names, call.args)),
                *((kw.arg, kw.value) for kw in call.keywords if kw.arg),
                *(pair for kw in call.keywords if kw.arg is None
                  for pair in _dict_items(kw.value, scopes))]
        enclosing = scopes[1:]
        for param, value in args:
            key = f"{callee}.{param}"
            if key not in switches:
                continue
            outer = next((f for f in reversed(enclosing)
                          if isinstance(value, ast.Name)
                          and value.id in _params(f)), None)
            if outer is not None:
                source = f"{outer.name}.{value.id}"
                if source in switches:
                    if _same(switches[source], switches[key]):
                        through[source].add(key)
                        continue
                    value = ast.Constant(switches[source])
            is_literal, literal = _literal(value, constants)
            if not (is_literal and _same(literal, switches[key])):
                overridden.add(key)
                if not in_tests:
                    flipped.add(key)

    def visit(node, scopes, in_tests):
        if isinstance(node, ast.Call):
            passed(node, scopes, in_tests)
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            scopes = [*scopes, node]
        for child in ast.iter_child_nodes(node):
            visit(child, scopes, in_tests)

    for entry in [*ROOTS, PACKAGE.name, "tests"]:
        for path in _py_files(root / entry):
            tree = ast.parse(path.read_text(), filename=str(path))
            visit(tree, [tree], entry == "tests")
    return switches, flipped, overridden, through


def _selects_branch(default):
    """A ``bool`` or ``None`` default picks a branch; any other
    literal is a value."""
    return default is None or isinstance(default, bool)


def unflipped(keep=KEEP_SWITCHES, graph=None):
    """The switches no call gives another value under the rules above,
    ``keep`` aside."""
    switches, flipped, overridden, through = graph or switch_graph()

    def reach(seeds):
        reached, todo = set(), [*seeds, *keep]
        while todo:
            key = todo.pop()
            if key not in reached:
                reached.add(key)
                todo.extend(through[key])
        return reached

    by_code, by_any = reach(flipped), reach(overridden)
    return sorted(key for key, default in switches.items() if key not in (
        by_code if _selects_branch(default) else by_any))


def test_every_switch_is_flipped_outside_tests():
    switches = switch_graph()[0]
    dead = [k for k in unflipped() if isinstance(switches[k], bool)]
    assert not dead, (
        "only tests/ pass these switches their other value (keep the "
        "branch the system runs and delete the parameter, or add a "
        "KEEP_SWITCHES entry with its reason):\n  " + "\n  ".join(dead))


def test_every_none_default_is_set_outside_tests():
    switches = switch_graph()[0]
    dead = [k for k in unflipped() if switches[k] is None]
    assert not dead, (
        "only tests/ pass these parameters a value (use the default in "
        "place, delete the parameter and the branch it selects, or add a "
        "KEEP_SWITCHES entry with its reason):\n  " + "\n  ".join(dead))


def test_every_literal_default_is_overridden():
    switches = switch_graph()[0]
    dead = [k for k in unflipped() if not _selects_branch(switches[k])]
    assert not dead, (
        "no call passes these parameters another value (use the value in "
        "place and delete the parameter, or add a KEEP_SWITCHES entry "
        "with its reason):\n  " + "\n  ".join(dead))


def test_keep_switches_are_defined_and_needed():
    switches = switch_graph()[0]
    assert set(KEEP_SWITCHES) <= set(switches), sorted(
        set(KEEP_SWITCHES) - set(switches))
    unneeded = [key for key in KEEP_SWITCHES if key not in unflipped(
        {k: v for k, v in KEEP_SWITCHES.items() if k != key})]
    assert not unneeded, (
        f"flipped without KEEP_SWITCHES, drop them: {unneeded}")


def test_switch_rules_on_a_synthetic_package(tmp_path):
    """The widened analysis on a package small enough to read: which
    defaults it reports, which overrides it accepts, and how it follows
    positional, pass-through and ``**`` dict arguments."""
    files = {
        "serverless_podcast_etl_spark/mod.py": '''
WIDTH = 3


def never(df, k=5):
    return k

def test_only_str(df, col="text"):
    return col

def test_only_flag(df, fast=False):
    return fast

def named_default(df, n=WIDTH):
    return n

def inner(df, window=64, stride=48):
    return window, stride

def outer(df, window=64):
    return inner(df, window)

def narrower(df, stride=8):
    return inner(df, 64, stride)

def test_only_none(df, seed=None):
    return seed

def inner_opt(df, limit=None):
    return limit

def outer_opt(df, limit=None):
    return inner_opt(df, limit=limit)

def starred(df, width=10, tag=None):
    return width, tag
''',
        "examples/demo.py": '''
from serverless_podcast_etl_spark import mod

mod.outer(None, window=32)
mod.named_default(None, n=3)
mod.outer_opt(None, limit=5)


def run():
    kw = dict(width=20)
    mod.starred(None, **kw)
    mod.starred(None, **{"tag": "t"})
''',
        "tests/test_mod.py": '''
from serverless_podcast_etl_spark.mod import (
    test_only_flag, test_only_none, test_only_str)

def test_it():
    test_only_str(None, col="body")
    test_only_flag(None, fast=True)
    test_only_none(None, seed=7)
''',
    }
    for name, text in files.items():
        (tmp_path / name).parent.mkdir(parents=True, exist_ok=True)
        (tmp_path / name).write_text(text)
    graph = switch_graph(tmp_path)
    assert graph[0] == {
        "never.k": 5, "test_only_str.col": "text", "test_only_flag.fast": False,
        "named_default.n": 3, "inner.window": 64, "inner.stride": 48,
        "outer.window": 64, "narrower.stride": 8, "test_only_none.seed": None,
        "inner_opt.limit": None, "outer_opt.limit": None,
        "starred.width": 10, "starred.tag": None,
    }
    # outer passes its own window on by position, same default; outer_opt
    # passes its own None on by keyword
    assert graph[3]["outer.window"] == {"inner.window"}
    assert graph[3]["outer_opt.limit"] == {"inner_opt.limit"}
    # a ** dict display, or a name bound to dict(k=v), reaches the callee
    assert {"starred.width", "starred.tag"} <= graph[1]
    # reported: an int nobody overrides, a bool only a test flips, a
    # None only a test sets, a constant default passed its own value,
    # and narrower's stride that no call changes.  Accepted: a str only
    # a test overrides, inner.window through outer's overridden window,
    # inner.stride, which narrower's different default overrides,
    # inner_opt.limit through outer_opt's set limit, and both starred
    # parameters, set only through ** dicts
    assert unflipped({}, graph) == [
        "named_default.n", "narrower.stride", "never.k", "test_only_flag.fast",
        "test_only_none.seed"]
    assert unflipped({"narrower.stride": "why"}, graph) == [
        "named_default.n", "never.k", "test_only_flag.fast",
        "test_only_none.seed"]
