"""Every top-level definition of the package is used, every
``CrawlConfig`` field is read, and every defaulted parameter of the
crawl-side package is passed by some call.

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

A parameter with a default, of any function or method the package
defines outside ``pipelines/`` and ``driver_queries.py``, counts as
passed when some call of that name in the same sources passes it: by
keyword, by position (after ``self``/``cls`` for a method), through
``*args`` (the positional ones) or ``**kwargs`` forwarding, or through
``functools.partial``. A call of a class passes its ``__init__``'s
parameters. A default that no call overrides is a constant spelled as an
option: the code should read the constant.
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
def _trees() -> list[tuple[Path, ast.Module]]:
    gc.disable()  # the parse allocates ~2e5 nodes; collection only slows it
    try:
        return [(path, ast.parse(path.read_text(), str(path))) for path in _sources()]
    finally:
        gc.enable()


@functools.cache
def _scan() -> tuple[list[str], Counter]:
    """(unused package definitions, CrawlConfig reads outside config.py)."""
    names: list[str] = []
    attrs: list[str] = []
    config_reads: list[str] = []
    config_start = config_end = 0
    defs: list[tuple[str, str, int]] = []
    for path, tree in _trees():
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
    uses = Counter(names) + Counter(attrs)
    read_outside_config = Counter(config_reads[:config_start] + config_reads[config_end:])
    return [label for label, d, own in defs if uses[d] == own], read_outside_config


def _unread(fields: list[str], config_reads: Counter) -> list[str]:
    return [f for f in fields if not config_reads[f]]


@dataclasses.dataclass
class _Passed:
    """What the calls of one name pass, over all of them."""

    positional: int = 0  # the most arguments one call passes by position
    keywords: set[str] = dataclasses.field(default_factory=set)
    star: bool = False  # some call forwards ``*args``
    double_star: bool = False  # some call forwards ``**kwargs``


def _callee(func: ast.expr) -> str | None:
    if type(func) is ast.Name:
        return func.id
    if type(func) is ast.Attribute:
        return func.attr
    return None


def _record_calls(tree: ast.AST, passed: dict[str, _Passed]) -> None:
    """Add what every call under ``tree`` passes to ``passed``, by the
    called name (``partial(f, ...)`` counts as a call of ``f``)."""
    for node in ast.walk(tree):
        if type(node) is not ast.Call:
            continue
        name, args = _callee(node.func), node.args
        if name == "partial" and args:
            name, args = _callee(args[0]), args[1:]
        if name is None:
            continue
        p = passed.setdefault(name, _Passed())
        p.positional = max(p.positional, sum(type(a) is not ast.Starred for a in args))
        p.star |= any(type(a) is ast.Starred for a in args)
        for k in node.keywords:
            if k.arg is None:
                p.double_star = True
            else:
                p.keywords.add(k.arg)


def _functions(tree: ast.AST):
    """(def, enclosing class or None) for every function under ``tree``:
    module functions, methods and nested functions."""
    stack: list[tuple[ast.AST, ast.ClassDef | None]] = [(tree, None)]
    while stack:
        node, cls = stack.pop()
        for child in ast.iter_child_nodes(node):
            if type(child) is ast.ClassDef:
                stack.append((child, child))
            elif type(child) in (ast.FunctionDef, ast.AsyncFunctionDef):
                yield child, cls
                stack.append((child, None))
            else:
                stack.append((child, cls))


def _never_passed(fn: ast.FunctionDef, cls: ast.ClassDef | None, passed: dict[str, _Passed]) -> list[str]:
    """The parameters of ``fn`` with a default that no call passes."""
    p = passed.get(cls.name if cls is not None and fn.name == "__init__" else fn.name, _Passed())
    a = fn.args
    positional = a.posonlyargs + a.args
    bound = int(cls is not None and "staticmethod" not in {_callee(d) for d in fn.decorator_list})
    first_default = len(positional) - len(a.defaults)
    out = [
        arg.arg
        for i, arg in enumerate(positional)
        if i >= first_default
        and not (p.star or p.double_star or arg.arg in p.keywords or i - bound < p.positional)
    ]
    out += [
        arg.arg
        for arg, default in zip(a.kwonlyargs, a.kw_defaults)
        if default is not None and not (p.double_star or arg.arg in p.keywords)
    ]
    return out


def _covered(path: Path) -> bool:
    """Does the parameter check cover ``path`` (a package module outside
    ``pipelines/`` and ``driver_queries.py``)?"""
    if PACKAGE not in path.parents:
        return False
    rel = path.relative_to(PACKAGE).parts
    return rel[0] != "pipelines" and rel != ("driver_queries.py",)


def _unpassed(trees: list[tuple[Path, ast.Module]]) -> list[tuple[Path, int, str]]:
    """(path, line, "function(parameter)") for every covered parameter
    with a default that no call in ``trees`` passes."""
    passed: dict[str, _Passed] = {}
    for _, tree in trees:
        _record_calls(tree, passed)
    return [
        (path, fn.lineno, f"{fn.name}({param})")
        for path, tree in trees
        if _covered(path)
        for fn, cls in _functions(tree)
        for param in _never_passed(fn, cls, passed)
    ]


def test_every_package_definition_is_named_elsewhere():
    unused, _ = _scan()
    assert not unused, "top-level definitions nothing names:\n" + "\n".join(unused)


def test_every_defaulted_parameter_is_passed():
    unpassed = sorted(f"{path.relative_to(ROOT)}:{line} {p}" for path, line, p in _unpassed(_trees()))
    assert not unpassed, "parameters with a default that no call passes:\n" + "\n".join(unpassed)


def test_parameter_check_counts_every_way_of_passing():
    """Keyword, position (after ``self``), ``*``/``**`` forwarding,
    ``functools.partial`` and a call of the class all pass a parameter;
    a call of another name does not."""
    src = """
class Fetcher:
    def __init__(self, pages, key="k"):
        pass

    def fetch(self, rows, limit=1, *, strict=False):
        pass


def kw(x, a=1): pass
def pos(x, a=1): pass
def star(x, a=1): pass
def dstar(x, *, a=1): pass
def part(x, a=1): pass
def dead(x, a=1, *, b=2): pass
def other(x, a=1): pass


Fetcher(p, "key").fetch(r, 5)
kw(1, a=2)
pos(1, 2)
star(*args)
dstar(1, **kw)
functools.partial(part, 1, 2)
dead(1)
dead(x=1)
unrelated(1, 2, a=3, b=4)
"""
    unpassed = _unpassed([(PACKAGE / "probe.py", ast.parse(src))])
    assert sorted(p for _, _, p in unpassed) == ["dead(a)", "dead(b)", "fetch(strict)", "other(a)"]


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
