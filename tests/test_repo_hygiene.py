"""Repository hygiene: the kept scripts byte-compile, no code, test
or doc cites a ``scripts/<name>.py`` (or imports a ``scripts.<name>``
module) that does not exist, no doc recipe cites a missing
``tests/<name>.py`` or package module (``sinks/<name>.py``), and
every package def is reachable from an entry point. Deleted study
scripts live in git history; their verdicts live in SCALE.md and
OPTIMIZATION_r12/13.md."""

from __future__ import annotations

import ast
import glob
import os
import re

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "end_to_end_etl_pipeline_spark"
SCRIPTS = sorted(
    f for f in os.listdir(os.path.join(ROOT, "scripts")) if f.endswith(".py")
)
#: where a script citation can hide: the package, the bench, the
#: tests, the scripts themselves, the README and the verify recipe
CITING = [
    "end_to_end_etl_pipeline_spark",
    "bench.py",
    "tests",
    "scripts",
    "README.md",
    ".claude/skills/verify/SKILL.md",
]
CITE = re.compile(
    r"scripts/([A-Za-z0-9_]+)\.py|(?:from|import) scripts\.([A-Za-z0-9_]+)"
)
#: the doc recipes, which also cite test files: ``tests/<name>.py``,
#: or a glob such as ``tests/test_scd*.py`` that must match a file
RECIPES = ["README.md", ".claude/skills/verify/SKILL.md"]
TEST_CITE = re.compile(r"(?<![\w/])tests/([A-Za-z0-9_*?]+)\.py")
#: the package's subpackages; the recipes cite their modules either
#: package-relative (``sinks/manifest.py``) or in full
#: (``end_to_end_etl_pipeline_spark/session.py``)
SUBPACKAGES = sorted(
    d for d in os.listdir(os.path.join(ROOT, PACKAGE))
    if os.path.isfile(os.path.join(ROOT, PACKAGE, d, "__init__.py"))
)
MODULE_CITE = re.compile(
    rf"(?<![\w/])(?:{PACKAGE}/([\w/]+\.py)"
    rf"|((?:{'|'.join(SUBPACKAGES)})/\w+\.py))"
)


def _citing_files():
    for rel in CITING:
        path = os.path.join(ROOT, rel)
        if os.path.isfile(path):
            yield path
            continue
        for dirpath, _dirs, files in os.walk(path):
            for f in files:
                if f.endswith((".py", ".md")):
                    yield os.path.join(dirpath, f)


@pytest.mark.parametrize("name", SCRIPTS)
def test_script_byte_compiles(name):
    path = os.path.join(ROOT, "scripts", name)
    with open(path, encoding="utf-8") as f:
        compile(f.read(), path, "exec")


def test_cited_scripts_exist():
    dangling = []
    for path in _citing_files():
        rel = os.path.relpath(path, ROOT)
        with open(path, encoding="utf-8") as f:
            for lineno, line in enumerate(f, 1):
                for m in CITE.finditer(line):
                    name = f"{m.group(1) or m.group(2)}.py"
                    if name not in SCRIPTS:
                        dangling.append(f"{rel}:{lineno}: scripts/{name}")
                if rel not in RECIPES:
                    continue
                for m in TEST_CITE.finditer(line):
                    cited = f"tests/{m.group(1)}.py"
                    if not glob.glob(os.path.join(ROOT, cited)):
                        dangling.append(f"{rel}:{lineno}: {cited}")
                for m in MODULE_CITE.finditer(line):
                    cited = f"{PACKAGE}/{m.group(1) or m.group(2)}"
                    if not os.path.isfile(os.path.join(ROOT, cited)):
                        dangling.append(f"{rel}:{lineno}: {cited}")
    assert not dangling, "cited files that do not exist:\n" + "\n".join(
        dangling
    )


# -- no test-only code ----------------------------------------------------
#: the entry points: code that ships or measures the engine. Every
#: name such a file mentions is a root (a ``tests`` dir under one of
#: them is not — a test never keeps code alive).
ENTRY_POINTS = [
    f"{PACKAGE}/cli.py",
    f"{PACKAGE}/__main__.py",
    "bench.py",
    "__spark_entry__.py",
    "scripts",
    "perfbench",
]
#: package defs that no entry point reaches, each with why it stays
#: (a kept def keeps the code only it calls). This may only shrink: give a def a caller reachable from an entry
#: point, or delete it (git keeps it); never add a name here.
KEPT = {
    "png_rgb8_blob": "reference encoder that encode_png_rgb8's tests "
    "compare against",
    "maybe_rebalance": "IVF-PQ store maintenance; folds into the "
    "key-delete commit (ROADMAP item 2)",
    "delete_from_ivfpq_store": "IVF-PQ store delete; folds into the "
    "key-delete commit (ROADMAP item 2)",
    "delete_from_text_index": "text-index delete; folds into the "
    "key-delete commit (ROADMAP item 2)",
    "purge_text_index_tombstones": "text-index maintenance; folds into "
    "the key-delete commit (ROADMAP item 2)",
    "maybe_purge_text_index": "text-index maintenance; folds into the "
    "key-delete commit (ROADMAP item 2)",
}


def _py_files(rel):
    path = os.path.join(ROOT, rel)
    if os.path.isfile(path):
        yield path
        return
    for dirpath, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if d != "tests"]
        for f in files:
            if f.endswith(".py"):
                yield os.path.join(dirpath, f)


def _parse(path):
    with open(path, encoding="utf-8") as f:
        return ast.parse(f.read(), path)


def _names(node) -> set[str]:
    """Every name ``node`` mentions in code: a Name, an attribute, or
    an imported name (strings and docstrings do not count)."""
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.ImportFrom):
            out.update(a.name for a in n.names)
    return out


def _is_register(dec) -> bool:
    target = dec.func if isinstance(dec, ast.Call) else dec
    return getattr(target, "id", getattr(target, "attr", None)) == "register"


def _is_method(node) -> bool:
    return isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)) and not (
        node.name.startswith("__") and node.name.endswith("__")
    )


def _class_names(cls: ast.ClassDef) -> set[str]:
    """The names a class mentions outside its non-dunder methods: its
    decorators, bases, class-level statements and dunder methods."""
    out = set()
    for part in (*cls.decorator_list, *cls.bases, *cls.keywords):
        out |= _names(part)
    for stmt in cls.body:
        if not _is_method(stmt):
            out |= _names(stmt)
    return out


def _unreachable_defs(extra_roots=()) -> set[str]:
    """Top-level package defs and classes, public or private, that no
    entry point reaches, and the methods (``Class.method``) of reached
    classes that nothing reached calls. Roots: ``@register``-ed queries
    (the registry calls them), module-level package code other than
    imports (so an ``__init__`` re-export keeps nothing alive), and
    every name in an ``ENTRY_POINTS`` file. A reached def reaches every
    name its body mentions. A reached class reaches what its body
    mentions outside its methods and in its dunder methods; any other
    method is reached once reached code mentions its name. Names are
    matched by spelling, so two defs that share a name live or die
    together. ``extra_roots`` are reached too (a ``KEPT`` def keeps
    the code only it calls)."""
    defs: dict[str, list[ast.AST]] = {}
    #: method name -> (class name, method node)
    methods: dict[str, list[tuple[str, ast.AST]]] = {}
    roots: set[str] = set(extra_roots)
    for path in _py_files(PACKAGE):
        for node in _parse(path).body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                defs.setdefault(node.name, []).append(node)
                if any(_is_register(d) for d in node.decorator_list):
                    roots.add(node.name)
                if isinstance(node, ast.ClassDef):
                    for m in filter(_is_method, node.body):
                        methods.setdefault(m.name, []).append((node.name, m))
            elif not isinstance(node, (ast.Import, ast.ImportFrom)):
                roots |= _names(node)
    for rel in ENTRY_POINTS:
        for path in _py_files(rel):
            roots |= _names(_parse(path))
    reached: set[str] = set()
    todo = list(roots)
    while todo:
        name = todo.pop()
        if name in reached:
            continue
        reached.add(name)
        for node in defs.get(name, ()):
            if isinstance(node, ast.ClassDef):
                todo.extend(_class_names(node))
                todo.extend(
                    n for m in filter(_is_method, node.body)
                    if m.name in reached for n in _names(m)
                )
            else:
                todo.extend(_names(node))
        for cls, m in methods.get(name, ()):
            if cls in reached:
                todo.extend(_names(m))
    dead_methods = {
        f"{cls}.{name}"
        for name, ms in methods.items()
        for cls, _m in ms
        if cls in reached and name not in reached
    }
    return (set(defs) - reached) | dead_methods


def test_no_new_test_only_code():
    unreachable = _unreachable_defs()
    new = sorted(_unreachable_defs(extra_roots=KEPT))
    assert not new, (
        "package defs no entry point reaches (give each a caller from "
        "a query, the CLI, bench.py, a script or perfbench/, or delete "
        "it): " + ", ".join(new)
    )
    gone = sorted(set(KEPT) - unreachable)
    assert not gone, "now reached or deleted — drop from KEPT: " + ", ".join(
        gone
    )
