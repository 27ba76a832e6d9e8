"""Repository hygiene: the kept scripts byte-compile, no code, test
or doc cites a ``scripts/<name>.py`` (or imports a ``scripts.<name>``
module) that does not exist, and no new package code exists only for
its tests. Deleted study scripts live in git history; their verdicts
live in SCALE.md and OPTIMIZATION_r12/13.md."""

from __future__ import annotations

import ast
import os
import re

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
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
        with open(path, encoding="utf-8") as f:
            for lineno, line in enumerate(f, 1):
                for m in CITE.finditer(line):
                    name = f"{m.group(1) or m.group(2)}.py"
                    if name not in SCRIPTS:
                        rel = os.path.relpath(path, ROOT)
                        dangling.append(f"{rel}:{lineno}: scripts/{name}")
    assert not dangling, "cited scripts that do not exist:\n" + "\n".join(
        dangling
    )


# -- no test-only code ----------------------------------------------------
PACKAGE = "end_to_end_etl_pipeline_spark"
#: where a reference keeps a package def alive: everything that ships
#: or measures the engine — never ``tests/``
REFERENCING = [PACKAGE, "bench.py", "__spark_entry__.py", "scripts", "perfbench"]
#: public defs that only tests reference today. This list may only
#: shrink: give each one a caller outside ``tests/`` or delete it (git
#: keeps it), and never add a name here.
TEST_ONLY = {
    "MetastoreCatalog",
    "decode_features",
    "delete_from_ivfpq_store",
    "delete_from_text_index",
    "maybe_purge_text_index",
    "maybe_rebalance",
    "png_rgb8_blob",
    "pq_topk",
    "quarantine_split",
    "running_total",
    "values_source",
}


def _py_files(rel):
    path = os.path.join(ROOT, rel)
    if os.path.isfile(path):
        yield path
        return
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".py"):
                yield os.path.join(dirpath, f)


def _parse(path):
    with open(path, encoding="utf-8") as f:
        return ast.parse(f.read(), path)


def _is_register(dec) -> bool:
    target = dec.func if isinstance(dec, ast.Call) else dec
    return getattr(target, "id", getattr(target, "attr", None)) == "register"


def _unreferenced_public_defs() -> set[str]:
    """Public top-level defs and classes of the package that no code
    outside ``tests/`` names (a Name, an attribute, or an import —
    so ``__init__`` re-exports count, docstring mentions do not),
    other than ``@register``-ed queries (the registry is their
    caller)."""
    defs = set()
    for path in _py_files(PACKAGE):
        for node in _parse(path).body:
            if (
                isinstance(node, (ast.FunctionDef, ast.ClassDef))
                and not node.name.startswith("_")
                and not any(_is_register(d) for d in node.decorator_list)
            ):
                defs.add(node.name)
    used = set()
    for rel in REFERENCING:
        for path in _py_files(rel):
            for node in ast.walk(_parse(path)):
                if isinstance(node, ast.Name):
                    used.add(node.id)
                elif isinstance(node, ast.Attribute):
                    used.add(node.attr)
                elif isinstance(node, ast.ImportFrom):
                    used.update(a.name for a in node.names)
    return defs - used


def test_no_new_test_only_code():
    unreferenced = _unreferenced_public_defs()
    new = sorted(unreferenced - TEST_ONLY)
    assert not new, (
        "public defs with no caller outside tests/ (give each a caller "
        "or delete it): " + ", ".join(new)
    )
    gone = sorted(TEST_ONLY - unreferenced)
    assert not gone, (
        "now referenced or deleted — drop from TEST_ONLY: " + ", ".join(gone)
    )
