"""Every top-level definition of the package is used, and every
``CrawlConfig`` field is read.

A static check over the source: a top-level function, class or constant
of ``searchgov_spider_spark`` counts as used when some other statement
names it — as a name, an attribute, an imported name or an
identifier-shaped string (``getattr``-style lookups) — anywhere in the
package, ``jobs/``, ``tools/``, ``bench.py``, ``perfbench/`` or
``tests/``. A mention in a comment or inside prose does not count. A
``CrawlConfig`` field counts as read when some code outside ``config.py``
reads an attribute of its name (of any object: the check has no types);
passing it as a keyword only sets it.
"""

from __future__ import annotations

import ast
import dataclasses
import functools
import gc
from collections import Counter
from pathlib import Path

from searchgov_spider_spark.config import CrawlConfig

ROOT = Path(__file__).resolve().parents[1]
PACKAGE = ROOT / "searchgov_spider_spark"
CONFIG = PACKAGE / "config.py"


def _sources() -> list[Path]:
    files = [ROOT / "bench.py"]
    for d in (PACKAGE, ROOT / "jobs", ROOT / "tools", ROOT / "perfbench", ROOT / "tests"):
        files += sorted(d.rglob("*.py"))
    return files


def _names(node: ast.AST, names: list[str], attrs: list[str]) -> None:
    """Append the identifiers named anywhere under ``node`` to ``names``,
    attribute names to ``attrs``."""
    stack = [node]
    while stack:
        n = stack.pop()
        t = type(n)
        if t is ast.Name:
            names.append(n.id)
            continue
        if t is ast.Attribute:
            attrs.append(n.attr)
        elif t is ast.alias:
            names += [(n.asname or n.name).split(".")[0], n.name.rpartition(".")[2]]
        elif t is ast.Constant:
            if type(n.value) is str and n.value.isidentifier():
                names.append(n.value)
            continue
        for field in n._fields:
            v = getattr(n, field, None)
            if type(v) is list:
                stack += [x for x in v if isinstance(x, ast.AST)]
            elif isinstance(v, ast.AST) and field != "ctx":
                stack.append(v)


def _defined(stmt: ast.stmt) -> list[str]:
    if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        return [stmt.name]
    if isinstance(stmt, ast.Assign):
        return [t.id for t in stmt.targets if isinstance(t, ast.Name)]
    if isinstance(stmt, ast.AnnAssign) and isinstance(stmt.target, ast.Name):
        return [stmt.target.id]
    return []


@functools.cache
def _scan() -> tuple[list[str], Counter]:
    """(unused package definitions, attribute reads outside config.py)."""
    names: list[str] = []
    attrs: list[str] = []
    config_start = config_end = 0
    defs: list[tuple[str, str, int]] = []
    gc.disable()  # the parse allocates ~2e5 nodes; collection only slows it
    try:
        for path in _sources():
            tree = ast.parse(path.read_text(), str(path))
            start = len(attrs)
            for stmt in tree.body:
                defined = _defined(stmt) if PACKAGE in path.parents else []
                if not defined:
                    _names(stmt, names, attrs)
                    continue
                own_names: list[str] = []
                own_attrs: list[str] = []
                _names(stmt, own_names, own_attrs)
                names += own_names
                attrs += own_attrs
                own = Counter(own_names + own_attrs)
                where = f"{path.relative_to(ROOT)}:{stmt.lineno}"
                defs += [(f"{where} {d}", d, own[d]) for d in defined if not d.startswith("__")]
            if path == CONFIG:
                config_start, config_end = start, len(attrs)
    finally:
        gc.enable()
    uses = Counter(names) + Counter(attrs)
    read_outside_config = Counter(attrs[:config_start] + attrs[config_end:])
    return [label for label, d, own in defs if uses[d] == own], read_outside_config


def test_every_package_definition_is_named_elsewhere():
    unused, _ = _scan()
    assert not unused, "top-level definitions nothing names:\n" + "\n".join(unused)


def test_every_crawl_config_field_is_read():
    _, attrs = _scan()
    unread = [f.name for f in dataclasses.fields(CrawlConfig) if not attrs[f.name]]
    assert not unread, f"CrawlConfig fields nothing reads outside config.py: {unread}"
