"""Every top-level definition of the package is used, and every
``CrawlConfig`` field is read.

A static check over the source: a top-level function, class or constant
of ``searchgov_spider_spark`` counts as used when some other statement
names it — as a name, an attribute, an imported name or an
identifier-shaped string (``getattr``-style lookups) — anywhere in the
package, ``jobs/``, ``tools/``, ``bench.py``, ``perfbench/`` or
``tests/``. A mention in a comment or inside prose does not count. A
``CrawlConfig`` field counts as read when some code outside ``config.py``
reads it off a name the code binds to a ``CrawlConfig`` (``config``,
``cfg``, ``self.config``, ``CONFIG`` or ``DEFAULT_CONFIG``): reading an
attribute of the same name off another object (a site row, a simulator
job) does not count, and passing it as a keyword only sets it.
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
# the names this code base binds to a CrawlConfig (``self.config`` too)
CONFIG_RECEIVERS = frozenset({"config", "cfg", "CONFIG", "DEFAULT_CONFIG"})


def _sources() -> list[Path]:
    files = [ROOT / "bench.py"]
    for d in (PACKAGE, ROOT / "jobs", ROOT / "tools", ROOT / "perfbench", ROOT / "tests"):
        files += sorted(d.rglob("*.py"))
    return files


def _config_receiver(node: ast.expr) -> bool:
    """Is ``node`` a name bound to a CrawlConfig (``CONFIG_RECEIVERS`` or
    ``self.config``)?"""
    if type(node) is ast.Name:
        return node.id in CONFIG_RECEIVERS
    return (
        type(node) is ast.Attribute and node.attr == "config"
        and type(node.value) is ast.Name and node.value.id == "self"
    )


def _names(node: ast.AST, names: list[str], attrs: list[str], config_reads: list[str]) -> None:
    """Append the identifiers named anywhere under ``node`` to ``names``,
    attribute names to ``attrs``, and attributes read off a CrawlConfig
    receiver to ``config_reads``."""
    stack = [node]
    while stack:
        n = stack.pop()
        t = type(n)
        if t is ast.Name:
            names.append(n.id)
            continue
        if t is ast.Attribute:
            attrs.append(n.attr)
            if type(n.ctx) is ast.Load and _config_receiver(n.value):
                config_reads.append(n.attr)
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
    """(unused package definitions, CrawlConfig reads outside config.py)."""
    names: list[str] = []
    attrs: list[str] = []
    config_reads: list[str] = []
    config_start = config_end = 0
    defs: list[tuple[str, str, int]] = []
    gc.disable()  # the parse allocates ~2e5 nodes; collection only slows it
    try:
        for path in _sources():
            tree = ast.parse(path.read_text(), str(path))
            start = len(config_reads)
            for stmt in tree.body:
                defined = _defined(stmt) if PACKAGE in path.parents else []
                if not defined:
                    _names(stmt, names, attrs, config_reads)
                    continue
                own_names: list[str] = []
                own_attrs: list[str] = []
                _names(stmt, own_names, own_attrs, config_reads)
                names += own_names
                attrs += own_attrs
                own = Counter(own_names + own_attrs)
                where = f"{path.relative_to(ROOT)}:{stmt.lineno}"
                defs += [(f"{where} {d}", d, own[d]) for d in defined if not d.startswith("__")]
            if path == CONFIG:
                config_start, config_end = start, len(config_reads)
    finally:
        gc.enable()
    uses = Counter(names) + Counter(attrs)
    read_outside_config = Counter(config_reads[:config_start] + config_reads[config_end:])
    return [label for label, d, own in defs if uses[d] == own], read_outside_config


def _unread(fields: list[str], config_reads: Counter) -> list[str]:
    return [f for f in fields if not config_reads[f]]


def test_every_package_definition_is_named_elsewhere():
    unused, _ = _scan()
    assert not unused, "top-level definitions nothing names:\n" + "\n".join(unused)


def test_every_crawl_config_field_is_read():
    _, config_reads = _scan()
    unread = _unread([f.name for f in dataclasses.fields(CrawlConfig)], config_reads)
    assert not unread, f"CrawlConfig fields nothing reads outside config.py: {unread}"


def test_field_check_ignores_same_named_attributes_of_other_objects():
    """A dead field whose name another class also carries is still dead:
    only reads off a CrawlConfig receiver count."""
    src = """
class Site:
    def __init__(self, row, config):
        self.output_target = row.output_target
        self.config = config

    def fetch(self, cfg):
        return self.output_target, self.config.user_agent, cfg.max_waves


def emit(site, CONFIG):
    CONFIG.wave_seconds
    return site.output_target, DEFAULT_CONFIG.salt_buckets, config.bloom_fpp
"""
    names: list[str] = []
    attrs: list[str] = []
    config_reads: list[str] = []
    _names(ast.parse(src), names, attrs, config_reads)
    fields = ["output_target", "user_agent", "max_waves", "wave_seconds", "salt_buckets", "bloom_fpp"]
    assert _unread(fields, Counter(config_reads)) == ["output_target"]
    # an untyped count of attribute reads would call it read
    assert attrs.count("output_target") == 4
