"""Guard against dead code coming back (no Spark).

Two checks over the package, its tests, scripts, the driver entry,
``bench.py`` and ``perfbench/``:

* every ``sparklyclean_spark`` module (``__init__``/``__main__``
  aside) is imported somewhere in that set;
* every top-level ``def``/``class`` and UPPER_CASE constant
  assignment in the package is referenced as a name token (code, not
  a comment or string) somewhere other than its own definition.

And one over the scripts and the two documents that say how to run
them (``README.md``, the verify skill): every ``scripts/*.py`` is
named there, and every ``scripts/<name>.py`` named there exists.
"""

from __future__ import annotations

import ast
import os
import re
import tokenize
from collections import Counter

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "sparklyclean_spark"
CONSTANT = re.compile(r"_*[A-Z][A-Z0-9_]*")
RUN_DOCS = ("README.md", os.path.join(".claude", "skills", "verify", "SKILL.md"))
SCRIPT_REF = re.compile(r"\bscripts/(\w+\.py)\b")


def _py_files() -> list[str]:
    out = [os.path.join(ROOT, f) for f in ("__spark_entry__.py", "bench.py")]
    for d in (PKG, "tests", "scripts", "perfbench"):
        for dirpath, _, files in os.walk(os.path.join(ROOT, d)):
            out += [os.path.join(dirpath, f) for f in files if f.endswith(".py")]
    return sorted(p for p in out if os.path.exists(p))


def _module_name(path: str) -> str:
    name = os.path.relpath(path, ROOT)[: -len(".py")].replace(os.sep, ".")
    return name.removesuffix(".__init__")


def _in_package(path: str) -> bool:
    return _module_name(path).split(".")[0] == PKG


def _imported_modules(files: list[str]) -> set[str]:
    """Dotted names of every import target; ``from a import b`` adds
    both ``a`` and ``a.b`` (``b`` may be a submodule)."""
    seen: set[str] = set()
    for path in files:
        me = _module_name(path).split(".")
        if not path.endswith("__init__.py"):
            me = me[:-1]  # relative imports resolve from the package
        with open(path, encoding="utf-8") as f:
            tree = ast.parse(f.read())
        for node in ast.walk(tree):
            if isinstance(node, ast.Import):
                seen.update(a.name for a in node.names)
            elif isinstance(node, ast.ImportFrom):
                base = node.module or ""
                if node.level:
                    parent = me[: len(me) - node.level + 1]
                    base = ".".join(parent + ([base] if base else []))
                seen.add(base)
                seen.update(f"{base}.{a.name}" for a in node.names)
    return seen


def _name_tokens(files: list[str]) -> Counter:
    counts: Counter = Counter()
    for path in files:
        with open(path, "rb") as f:
            for tok in tokenize.tokenize(f.readline):
                if tok.type == tokenize.NAME:
                    counts[tok.string] += 1
    return counts


def test_every_package_module_is_imported():
    files = _py_files()
    imported = _imported_modules(files)
    orphans = [
        _module_name(p)
        for p in files
        if _in_package(p)
        and os.path.basename(p) not in ("__init__.py", "__main__.py")
        and _module_name(p) not in imported
    ]
    assert not orphans, f"modules nothing imports: {orphans}"


def _top_level_names(node: ast.stmt) -> list[str]:
    """The names a top-level statement defines: a ``def``/``class``,
    or the UPPER_CASE targets of a plain or annotated assignment."""
    if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        return [node.name]
    targets = node.targets if isinstance(node, ast.Assign) else (
        [node.target] if isinstance(node, ast.AnnAssign) else []
    )
    return [
        t.id for t in targets if isinstance(t, ast.Name) and CONSTANT.fullmatch(t.id)
    ]


def test_every_top_level_definition_is_referenced():
    files = _py_files()
    tokens = _name_tokens(files)
    defs: list[tuple[str, str]] = []
    for path in filter(_in_package, files):
        with open(path, encoding="utf-8") as f:
            body = ast.parse(f.read()).body
        defs += [(_module_name(path), name) for n in body for name in _top_level_names(n)]
    n_defs = Counter(name for _, name in defs)
    dead = [
        f"{mod}.{name}"
        for mod, name in defs
        if tokens[name] <= n_defs[name]
    ]
    assert not dead, f"top-level definitions nothing references: {dead}"


def test_scripts_and_run_docs_agree():
    named: set[str] = set()
    for doc in RUN_DOCS:
        with open(os.path.join(ROOT, doc), encoding="utf-8") as f:
            named.update(SCRIPT_REF.findall(f.read()))
    present = {f for f in os.listdir(os.path.join(ROOT, "scripts")) if f.endswith(".py")}
    assert not present - named, f"scripts no run doc names: {sorted(present - named)}"
    assert not named - present, f"run docs name missing scripts: {sorted(named - present)}"
