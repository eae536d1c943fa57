"""Import check for the scripts that live outside the package
(``tools/*.py``, ``perfbench/*.py``): every name they import from
``commodity_price_forecasting_spark`` must still exist, and so must
every package attribute the benchmark's tracer patches
(``tr.wrap(module, "attr", ...)`` in ``perfbench/workloads.py``). The
scripts are parsed with ``ast`` and never executed — several do real
work at import time."""

from __future__ import annotations

import ast
import importlib
import io
import os
import re
import tokenize

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "commodity_price_forecasting_spark"


def _scripts() -> list[str]:
    out = []
    for d in ("tools", "perfbench"):
        out += sorted(
            os.path.join(d, f)
            for f in os.listdir(os.path.join(ROOT, d))
            if f.endswith(".py")
        )
    return out


def _package_imports(path: str) -> list[tuple[str, str | None]]:
    """``(module, name)`` for every package import in ``path``; name is
    None for a plain ``import module``."""
    with open(os.path.join(ROOT, path)) as fh:
        tree = ast.parse(fh.read(), filename=path)
    found = []
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and (node.module or "").startswith(PACKAGE):
            found += [(node.module, a.name) for a in node.names]
        elif isinstance(node, ast.Import):
            found += [(a.name, None) for a in node.names if a.name.startswith(PACKAGE)]
    return found


@pytest.mark.parametrize("path", _scripts())
def test_script_package_imports_resolve(path):
    missing = []
    for module, name in _package_imports(path):
        mod = importlib.import_module(module)
        if name is None or hasattr(mod, name):
            continue
        try:  # ``from package import submodule``
            importlib.import_module(f"{module}.{name}")
        except ModuleNotFoundError:
            missing.append(f"{module}.{name}")
    assert not missing, f"{path} imports names that do not exist: {missing}"


def _wrap_targets(path: str) -> list[tuple[str, str]]:
    """``(module, attr)`` for every ``<x>.wrap(<module alias>, "<attr>", ...)``
    call in ``path`` whose alias names a package import."""
    with open(os.path.join(ROOT, path)) as fh:
        tree = ast.parse(fh.read(), filename=path)
    aliases = {}
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and (node.module or "").startswith(PACKAGE):
            aliases.update({a.asname or a.name: f"{node.module}.{a.name}" for a in node.names})
        elif isinstance(node, ast.Import):
            aliases.update({a.asname or a.name: a.name for a in node.names if a.name.startswith(PACKAGE)})
    found = []
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "wrap"
            and len(node.args) >= 2
            and isinstance(node.args[0], ast.Name)
            and isinstance(node.args[1], ast.Constant)
        ):
            module = aliases.get(node.args[0].id)
            assert module, f"{path}:{node.lineno} wraps {node.args[0].id!r}, not a package import"
            found.append((module, node.args[1].value))
    return found


WRAP_TARGETS = _wrap_targets(os.path.join("perfbench", "workloads.py"))


def test_wrap_targets_found():
    assert len(WRAP_TARGETS) >= 10


@pytest.mark.parametrize(
    "module,attr", WRAP_TARGETS, ids=[f"{m.rsplit('.', 1)[-1]}.{a}" for m, a in WRAP_TARGETS]
)
def test_perfbench_wrap_target_exists(module, attr):
    mod = importlib.import_module(module)
    assert hasattr(mod, attr), f"perfbench wraps {module}.{attr}, which does not exist"


#: Where a package definition counts as used: the package itself and
#: every caller that lives outside it.
REFERENCE_ROOTS = (
    PACKAGE,
    "tests",
    "tools",
    "perfbench",
    "bench.py",
    "parity_report.py",
    "__spark_entry__.py",
)


def _py_files(rel: str) -> list[str]:
    path = os.path.join(ROOT, rel)
    if path.endswith(".py"):
        return [path]
    return sorted(
        os.path.join(d, f)
        for d, _, files in os.walk(path)
        for f in files
        if f.endswith(".py")
    )


def _parse(path: str) -> ast.Module:
    with open(path) as fh:
        return ast.parse(fh.read(), filename=path)


def _is_registered(node: ast.AST) -> bool:
    """``@register(...)`` queries are reached through the registry."""
    for dec in node.decorator_list:
        fn = dec.func if isinstance(dec, ast.Call) else dec
        name = fn.attr if isinstance(fn, ast.Attribute) else getattr(fn, "id", None)
        if name == "register":
            return True
    return False


def unreferenced_defs() -> list[str]:
    """``module.name`` of every top-level package function or class
    that nothing references: no ``Name``, no ``Attribute``, no
    ``from ... import`` alias (a re-export in a package ``__init__.py``
    does not count) and no string constant equal to the name, in any
    file under ``REFERENCE_ROOTS``. Parsed with ``ast``; nothing is
    executed."""
    defs = {}
    for path in _py_files(PACKAGE):
        module = os.path.relpath(path, ROOT)[: -len(".py")].replace(os.sep, ".")
        for node in _parse(path).body:
            if isinstance(
                node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ) and not _is_registered(node):
                defs.setdefault(node.name, []).append(module)
    used = set()
    for rel in REFERENCE_ROOTS:
        for path in _py_files(rel):
            reexport = os.path.basename(path) == "__init__.py"
            for node in ast.walk(_parse(path)):
                if isinstance(node, ast.Name):
                    used.add(node.id)
                elif isinstance(node, ast.Attribute):
                    used.add(node.attr)
                elif isinstance(node, ast.ImportFrom) and not reexport:
                    used.update(a.name for a in node.names)
                elif isinstance(node, ast.Constant) and isinstance(node.value, str):
                    if node.value.isidentifier():
                        used.add(node.value)
    return sorted(
        f"{module}.{name}"
        for name, modules in defs.items()
        if name not in used
        for module in modules
    )


def test_every_package_def_is_referenced():
    dead = unreferenced_defs()
    assert not dead, f"package definitions nothing references: {dead}"


def _package_functions() -> list[tuple[str, ast.FunctionDef, bool]]:
    """``(module.qualname, def, is_method)`` for every function and
    method in the package, nested ones included."""
    out = []

    def visit(node: ast.AST, prefix: str, in_class: bool) -> None:
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                out.append((prefix + child.name, child, in_class))
                visit(child, f"{prefix}{child.name}.", False)
            elif isinstance(child, ast.ClassDef):
                visit(child, f"{prefix}{child.name}.", True)
            else:
                visit(child, prefix, in_class)

    for path in _py_files(PACKAGE):
        module = os.path.relpath(path, ROOT)[: -len(".py")].replace(os.sep, ".")
        visit(_parse(path), f"{module}.", False)
    return out


def _passes(call: ast.Call, name: str, index: int | None) -> bool:
    """Whether ``call`` passes parameter ``name`` — by keyword, through
    a ``**`` splat, or (when the parameter is positional at ``index``,
    already shifted past ``self``/``cls``) by position or through a
    ``*`` splat at or before that position."""
    if any(kw.arg is None or kw.arg == name for kw in call.keywords):
        return True
    if index is None:
        return False
    for j, arg in enumerate(call.args):
        if isinstance(arg, ast.Starred):
            return j <= index
        if j == index:
            return True
    return False


def unpassed_defaults() -> list[str]:
    """``module.qualname(param)`` for every parameter of a package
    function or method that has a default no call site passes: an
    option nobody sets. Call sites are every call under
    ``REFERENCE_ROOTS``, tests included; a call matches its callee by
    name as in ``unreferenced_defs`` (``f(...)`` and ``x.f(...)``,
    and ``C(...)`` for ``C.__init__``). Parsed with ``ast``; nothing
    is executed."""
    calls: dict[str, list[ast.Call]] = {}
    for rel in REFERENCE_ROOTS:
        for path in _py_files(rel):
            for node in ast.walk(_parse(path)):
                if isinstance(node, ast.Call):
                    fn = node.func
                    name = fn.attr if isinstance(fn, ast.Attribute) else getattr(fn, "id", None)
                    calls.setdefault(name, []).append(node)
    unset = []
    for qualname, fn, is_method in _package_functions():
        args = fn.args
        positional = args.posonlyargs + args.args
        bound = (
            is_method
            and positional
            and positional[0].arg in ("self", "cls")
            and not any(getattr(d, "id", None) == "staticmethod" for d in fn.decorator_list)
        )
        first_default = len(positional) - len(args.defaults)
        params = [
            (a.arg, i - bound) for i, a in enumerate(positional) if i >= first_default
        ]
        params += [
            (a.arg, None)
            for a, d in zip(args.kwonlyargs, args.kw_defaults)
            if d is not None
        ]
        callee = qualname.split(".")[-2] if fn.name == "__init__" else fn.name
        sites = calls.get(callee, [])
        unset += [
            f"{qualname}({name})"
            for name, index in params
            if not any(_passes(call, name, index) for call in sites)
        ]
    return unset


def test_every_default_is_passed_somewhere():
    """A defaulted parameter that no call site passes is an option
    nobody sets: drop it and use the value it always takes."""
    unset = unpassed_defaults()
    assert not unset, f"defaulted parameters no call site passes: {unset}"


#: A round-stamped record at the repo root: ``BENCH_r11.json``,
#: ``OPTIMIZATION_r15.md``, ``BENCH_r15_c8.json``.
_ROUND_FILE = re.compile(
    r"\b[A-Z][A-Z0-9]*(?:_[A-Z0-9]+)*_r\d+(?:_[A-Za-z0-9]+)*\.(?:md|json)\b"
)


def _comments_and_docstrings(path: str) -> list[str]:
    """Every comment and every module/class/function docstring in
    ``path``; tokenized and parsed, nothing is executed."""
    with open(path) as fh:
        src = fh.read()
    out = [
        tok.string
        for tok in tokenize.generate_tokens(io.StringIO(src).readline)
        if tok.type == tokenize.COMMENT
    ]
    for node in ast.walk(ast.parse(src, filename=path)):
        if isinstance(
            node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)
        ):
            doc = ast.get_docstring(node, clean=False)
            if doc:
                out.append(doc)
    return out


def test_cited_round_files_exist():
    """A comment or docstring that cites a round-stamped record as the
    evidence for a claim must cite a file that exists at the repo
    root; a dangling citation leaves the claim with no record."""
    missing = []
    for rel in (PACKAGE, "tools", "tests", "perfbench", "bench.py"):
        for path in _py_files(rel):
            for text in _comments_and_docstrings(path):
                missing += [
                    f"{os.path.relpath(path, ROOT)}: {name}"
                    for name in _ROUND_FILE.findall(text)
                    if not os.path.exists(os.path.join(ROOT, name))
                ]
    assert not missing, f"cited records that do not exist: {missing}"
