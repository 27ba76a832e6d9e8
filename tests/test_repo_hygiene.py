"""Repository hygiene: the kept scripts byte-compile, no code, test
or doc cites a ``scripts/<name>.py`` (or imports a ``scripts.<name>``
module) that does not exist, no doc recipe or SURVEY.md cites a
missing ``tests/<name>.py`` (or ``tests/<name>.py::<test>``) or
package module (``sinks/<name>.py``), every
package def is reachable from an entry point, and every option (a
defaulted parameter of a package or ``bench.py`` def) is set by some
shipped call. Deleted study
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
#: tests, the scripts themselves, the README, the verify recipe and
#: the survey
CITING = [
    "end_to_end_etl_pipeline_spark",
    "bench.py",
    "tests",
    "scripts",
    "README.md",
    ".claude/skills/verify/SKILL.md",
    "SURVEY.md",
]
CITE = re.compile(
    r"scripts/([A-Za-z0-9_]+)\.py|(?:from|import) scripts\.([A-Za-z0-9_]+)"
)
#: the docs that also cite test files: ``tests/<name>.py``, or a glob
#: such as ``tests/test_scd*.py`` that must match a file; a
#: ``::<test>`` suffix must start the name of a def in it (a trailing
#: ``_`` or ``*`` cites a family, and a name may wrap at ``_``)
RECIPES = ["README.md", ".claude/skills/verify/SKILL.md", "SURVEY.md"]
TEST_CITE = re.compile(r"(?<![\w/])tests/([A-Za-z0-9_*?]+)\.py(?:::(\w+))?")
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


def _defines(path, prefix):
    with open(path, encoding="utf-8") as f:
        return re.search(rf"^def {prefix}", f.read(), re.M) is not None


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
                    files = glob.glob(os.path.join(ROOT, cited))
                    if not files:
                        dangling.append(f"{rel}:{lineno}: {cited}")
                    elif m.group(2) and not any(
                        _defines(f, m.group(2)) for f in files
                    ):
                        dangling.append(f"{rel}:{lineno}: {cited}::{m.group(2)}")
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


#: the repo's own top-level modules: the package and the entry-point
#: files and dirs (``perfbench/run.py`` imports its sibling ``gen``)
LOCAL_MODULES = {PACKAGE, "tests"} | {
    os.path.splitext(os.path.basename(p))[0]
    for rel in ENTRY_POINTS
    for p in [rel, *(glob.glob(os.path.join(ROOT, rel, "*.py")))]
}


def _external(tree) -> frozenset[str]:
    """The names ``tree`` binds by importing from outside the repo
    (``pq`` in ``import pyarrow.parquet as pq``, ``F``, ``os``): an
    attribute on one (``pq.read_table``) is that library's, never a
    package def's."""
    out = set()
    for n in ast.walk(tree):
        if isinstance(n, ast.Import):
            for a in n.names:
                if a.name.split(".")[0] not in LOCAL_MODULES:
                    out.add(a.asname or a.name.split(".")[0])
        elif isinstance(n, ast.ImportFrom):
            if n.level == 0 and n.module.split(".")[0] not in LOCAL_MODULES:
                out.update(a.asname or a.name for a in n.names)
    return frozenset(out)


def _attr_name(n: ast.Attribute, external) -> str | None:
    """The name an attribute mentions, or None for one on an imported
    library name."""
    if isinstance(n.value, ast.Name) and n.value.id in external:
        return None
    return n.attr


def _names(node, external=frozenset()) -> set[str]:
    """Every name ``node`` mentions in code: a Name, an attribute (not
    one on an ``external`` import), or an imported name (strings and
    docstrings do not count)."""
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            name = _attr_name(n, external)
            if name is not None:
                out.add(name)
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


def _class_names(cls: ast.ClassDef, external) -> set[str]:
    """The names a class mentions outside its non-dunder methods: its
    decorators, bases, class-level statements and dunder methods."""
    out = set()
    for part in (*cls.decorator_list, *cls.bases, *cls.keywords):
        out |= _names(part, external)
    for stmt in cls.body:
        if not _is_method(stmt):
            out |= _names(stmt, external)
    return out


def _trees(rels):
    for rel in rels:
        for path in _py_files(rel):
            yield _parse(path)


def _unreachable_defs(extra_roots=(), package=None, entries=None) -> set[str]:
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
    together, except that an attribute on an imported library name
    (``pq.read_table``) reaches no package def. ``extra_roots`` are
    reached too (a ``KEPT`` def keeps the code only it calls).
    ``package``/``entries`` replace the parsed package and entry-point
    modules."""
    package = list(_trees([PACKAGE])) if package is None else package
    entries = list(_trees(ENTRY_POINTS)) if entries is None else entries
    #: def name -> (node, its module's external names)
    defs: dict[str, list[tuple[ast.AST, frozenset]]] = {}
    #: method name -> (class name, method node, external names)
    methods: dict[str, list[tuple[str, ast.AST, frozenset]]] = {}
    roots: set[str] = set(extra_roots)
    for tree in package:
        external = _external(tree)
        for node in tree.body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                defs.setdefault(node.name, []).append((node, external))
                if any(_is_register(d) for d in node.decorator_list):
                    roots.add(node.name)
                if isinstance(node, ast.ClassDef):
                    for m in filter(_is_method, node.body):
                        methods.setdefault(m.name, []).append(
                            (node.name, m, external)
                        )
            elif not isinstance(node, (ast.Import, ast.ImportFrom)):
                roots |= _names(node, external)
    for tree in entries:
        roots |= _names(tree, _external(tree))
    reached: set[str] = set()
    todo = list(roots)
    while todo:
        name = todo.pop()
        if name in reached:
            continue
        reached.add(name)
        for node, external in defs.get(name, ()):
            if isinstance(node, ast.ClassDef):
                todo.extend(_class_names(node, external))
                todo.extend(
                    n for m in filter(_is_method, node.body)
                    if m.name in reached for n in _names(m, external)
                )
            else:
                todo.extend(_names(node, external))
        for cls, m, external in methods.get(name, ()):
            if cls in reached:
                todo.extend(_names(m, external))
    dead_methods = {
        f"{cls}.{name}"
        for name, ms in methods.items()
        for cls, _m, _e in ms
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


# -- every option is set --------------------------------------------------
#: options no shipped call sets, each with why it stays. This may only
#: shrink: pass the option from a query, the CLI, bench.py, a script or
#: perfbench/, or make it the value every caller uses; never add one.
KEPT_OPTIONS: dict[str, str] = {
    "main.argv": "deployment setting: the CLI's argument vector "
    "(None reads sys.argv)",
    "minhash_near_dup_pairs.max_broadcast_pairs": "size threshold: above "
    "it the verify joins shuffle instead of broadcasting, the only plan "
    "that survives a dup-heavy corpus",
    "_collect_probe.max_literal_rows": "size threshold: a quantizer "
    "above it ranks cells with the distributed join, the only plan "
    "for one too big to inline",
    "ivf_assign_cells.max_literal_rows": "size threshold: a quantizer "
    "above it assigns cells with the distributed join, the only plan "
    "for one too big to inline",
    "MinHashDedupStore.__init__.shingle_len": "the benchmark harness "
    "(perfbench/workloads.py) passes it, and the harness changes only "
    "with the benchmark",
    "foreach_batch_ann_ingest.auto_compact_max_dirs": "the only shipped "
    "path to ManifestCatalog.maybe_optimize/optimize, the compaction "
    "the key-delete commit (ROADMAP item 3) folds its deletes into",
}


def _is_static(node) -> bool:
    return any(getattr(d, "id", None) == "staticmethod" for d in node.decorator_list)


def _option_defs(trees):
    """Yield ``(key, callee name, positional params, defaulted params)``
    for every top-level def and every method of a top-level class in
    ``trees``: ``key`` is ``func`` or ``Class.method``, a constructor's
    callee is its class, and the positional params drop a method's
    ``self``/``cls``. Defaulted params map name -> default expression."""
    for tree in trees:
        for node in tree.body:
            if isinstance(node, ast.ClassDef):
                for m in node.body:
                    if not isinstance(m, (ast.FunctionDef, ast.AsyncFunctionDef)):
                        continue
                    callee = node.name if m.name == "__init__" else m.name
                    skip = 0 if _is_static(m) else 1
                    yield (f"{node.name}.{m.name}", callee, *_params(m, skip))
            elif isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                yield (node.name, node.name, *_params(node, 0))


def _params(fn, skip):
    a = fn.args
    positional = [p.arg for p in (*a.posonlyargs, *a.args)]
    defaults = dict(zip(positional[len(positional) - len(a.defaults):], a.defaults))
    defaults.update(
        (p.arg, d) for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None
    )
    return positional[skip:], defaults


def _calls(trees):
    """Yield ``(callee name, call)`` for every call in ``trees`` whose
    callee is a name or an attribute not on an imported library."""
    for tree in trees:
        external = _external(tree)
        for n in ast.walk(tree):
            if not isinstance(n, ast.Call):
                continue
            if isinstance(n.func, ast.Name):
                yield n.func.id, n
            elif isinstance(n.func, ast.Attribute):
                name = _attr_name(n.func, external)
                if name is not None:
                    yield name, n


def _sets(call: ast.Call, positional, param, default) -> bool:
    """Whether ``call`` passes ``param`` a value other than its
    ``default``. A ``*args`` splat may pass anything; a ``**`` splat
    passes only the keys of a dict literal (``f(**kw)`` forwards what
    its own caller passed, and that call is checked against the
    forwarding def's options, not ``f``'s)."""
    same = ast.dump(default)
    for i, arg in enumerate(call.args):
        if isinstance(arg, ast.Starred):
            return param in positional[i:]
        if i < len(positional) and positional[i] == param:
            return ast.dump(arg) != same
    for kw in call.keywords:
        if kw.arg is None and isinstance(kw.value, ast.Dict):
            values = (
                v for k, v in zip(kw.value.keys, kw.value.values)
                if isinstance(k, ast.Constant) and k.value == param
            )
        else:
            values = [kw.value] if kw.arg == param else []
        if any(ast.dump(v) != same for v in values):
            return True
    return False


def _options(package=None, entries=None, bench=None) -> tuple[set[str], set[str]]:
    """Every option (``func.param``: a defaulted parameter of a
    package or ``bench.py`` def or method) and those some call from package
    code or an ``ENTRY_POINTS`` file (never a test) passes a value
    other than the default. Callees are matched by name as in
    ``_unreachable_defs``. ``package``/``entries``/``bench`` replace
    the parsed package, entry-point and ``bench.py`` modules."""
    package = list(_trees([PACKAGE])) if package is None else package
    entries = list(_trees(ENTRY_POINTS)) if entries is None else entries
    bench = list(_trees(["bench.py"])) if bench is None else bench
    calls: dict[str, list[ast.Call]] = {}
    for name, call in _calls([*package, *entries]):
        calls.setdefault(name, []).append(call)
    every, used = set(), set()
    for key, callee, positional, defaults in _option_defs([*package, *bench]):
        for param, default in defaults.items():
            option = f"{key}.{param}"
            every.add(option)
            if any(
                _sets(c, positional, param, default) for c in calls.get(callee, ())
            ):
                used.add(option)
    return every, used


def test_every_option_is_set():
    every, used = _options()
    unset = every - used
    new = sorted(unset - set(KEPT_OPTIONS))
    assert not new, (
        "options no shipped call sets (pass each from a query, the CLI, "
        "bench.py, a script or perfbench/, or make it the value every "
        "caller uses): " + ", ".join(new)
    )
    gone = sorted(set(KEPT_OPTIONS) - unset)
    assert not gone, "now set or deleted — drop from KEPT_OPTIONS: " + ", ".join(
        gone
    )


def test_library_attribute_reaches_no_package_def():
    """``pq.read_table`` is pyarrow's, so it keeps no package
    ``read_table`` alive; the package's own import does."""
    package = [ast.parse("def read_table(path):\n    return path\n")]
    library = ast.parse("import pyarrow.parquet as pq\npq.read_table('x')\n")
    assert "read_table" in _unreachable_defs(package=package, entries=[library])
    own = ast.parse(
        f"from {PACKAGE}.sources.readers import read_table\nread_table('x')\n"
    )
    assert "read_table" not in _unreachable_defs(package=package, entries=[own])


def test_option_set_only_by_a_shipped_non_default_value():
    package = [ast.parse("def op(x, unused_opt: int = 1):\n    return x\n")]

    def unset(call):
        every, used = _options(package=package, entries=[ast.parse(call)], bench=[])
        return every - used

    assert unset("op(1)") == {"op.unused_opt"}
    assert unset("op(1, unused_opt=1)") == {"op.unused_opt"}
    assert unset("op(1, 2)") == set()
    assert unset("op(1, unused_opt=n)") == set()
    assert unset("import pyarrow as pa\npa.op(1, unused_opt=2)") == {
        "op.unused_opt"
    }


def test_kwargs_splat_sets_only_the_keys_it_holds():
    """``g(**kw): f(**kw)`` forwards whatever ``g``'s caller passed, so
    it sets none of ``f``'s options; a dict-literal splat sets the
    keys it holds."""
    package = [ast.parse(
        "def f(x: int = 1):\n    return x\n"
        "def g(**kw):\n    return f(**kw)\n"
    )]

    def unset(call):
        every, used = _options(package=package, entries=[ast.parse(call)], bench=[])
        return every - used

    assert unset("g()") == {"f.x"}
    assert unset("g(x=2)") == {"f.x"}
    assert unset("f(**{'x': 2})") == set()
    assert unset("f(**{'x': 1})") == {"f.x"}
    assert unset("f(**{'z': 2})") == {"f.x"}
