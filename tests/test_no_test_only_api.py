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

The same holds for switches: every package parameter with a ``bool``
default must get the other value, by keyword or by position, from
some call outside ``tests/``, or its second branch runs only under
test.  A bare name bound to the calling function's own switch passes
that switch through: it counts only if that switch is flipped.
``KEEP_SWITCHES`` lists the exceptions, each with its reason.

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
}


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


def _switches(func):
    """``{param: default}`` for a function's ``bool``-default params,
    and its positional parameter names (``self``/``cls`` dropped)."""
    args = func.args
    positional = [a.arg for a in [*args.posonlyargs, *args.args]]
    pairs = [*zip(positional[len(positional) - len(args.defaults):],
                  args.defaults),
             *((a.arg, d) for a, d in zip(args.kwonlyargs, args.kw_defaults))]
    switches = {name: d.value for name, d in pairs
                if isinstance(d, ast.Constant) and isinstance(d.value, bool)}
    if positional[:1] in (["self"], ["cls"]):
        positional = positional[1:]
    return switches, positional


def _params(func):
    args = func.args
    return {a.arg for a in [*args.posonlyargs, *args.args, *args.kwonlyargs]}


@lru_cache(maxsize=None)
def switch_graph():
    """``(switches, flipped, through)``.  ``switches`` maps
    ``"function.param"`` to its default; ``flipped`` holds the switches
    some call outside ``tests/`` passes another value; ``through`` maps
    an enclosing function's switch to the switches its calls pass it
    to unchanged."""
    switches, positional = {}, defaultdict(list)
    for path in _py_files(PACKAGE):
        for node in ast.walk(ast.parse(path.read_text(), filename=str(path))):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                found, names = _switches(node)
                positional[node.name].append(names)
                switches.update({f"{node.name}.{k}": v
                                 for k, v in found.items()})
    flipped, through = set(), defaultdict(set)

    def passed(call, enclosing):
        func = call.func
        callee = getattr(func, "id", None) or getattr(func, "attr", None)
        args = [*((p, a) for names in positional.get(callee, ())
                  for p, a in zip(names, call.args)),
                *((kw.arg, kw.value) for kw in call.keywords if kw.arg)]
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
                    through[source].add(key)
                    continue
            if not (isinstance(value, ast.Constant)
                    and value.value == switches[key]):
                flipped.add(key)

    def visit(node, enclosing):
        if isinstance(node, ast.Call):
            passed(node, enclosing)
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            enclosing = [*enclosing, node]
        for child in ast.iter_child_nodes(node):
            visit(child, enclosing)

    for entry in [*ROOTS, PACKAGE.name]:
        for path in _py_files(ROOT / entry):
            visit(ast.parse(path.read_text(), filename=str(path)), [])
    return switches, flipped, through


def unflipped(keep=KEEP_SWITCHES):
    switches, flipped, through = switch_graph()
    reached, todo = set(), [*flipped, *keep]
    while todo:
        key = todo.pop()
        if key not in reached:
            reached.add(key)
            todo.extend(through[key])
    return sorted(set(switches) - reached)


def test_every_switch_is_flipped_outside_tests():
    dead = unflipped()
    assert not dead, (
        "only tests/ pass these switches their other value (keep the "
        "branch the system runs and delete the parameter, or add a "
        "KEEP_SWITCHES entry with its reason):\n  " + "\n  ".join(dead))


def test_keep_switches_are_defined_and_needed():
    switches = switch_graph()[0]
    assert set(KEEP_SWITCHES) <= set(switches), sorted(
        set(KEEP_SWITCHES) - set(switches))
    unneeded = [key for key in KEEP_SWITCHES if key not in unflipped(
        {k: v for k, v in KEEP_SWITCHES.items() if k != key})]
    assert not unneeded, (
        f"flipped without KEEP_SWITCHES, drop them: {unneeded}")
