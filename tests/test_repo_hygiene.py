"""Repository hygiene: the kept scripts byte-compile, and no code,
test or doc cites a ``scripts/<name>.py`` (or imports a
``scripts.<name>`` module) that does not exist. Deleted study scripts
live in git history; their verdicts live in SCALE.md and
OPTIMIZATION_r12/13.md."""

from __future__ import annotations

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
