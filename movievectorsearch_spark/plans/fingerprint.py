"""Per-query implementation fingerprints: a walk over what each
registry builder is made of.

A query's fingerprint hashes everything its implementation is made of:

* the SOURCE of its builder function (and, transitively, of every
  helper function defined in plans.queries that it references by name,
  discovered through the code objects' ``co_names`` — nested
  comprehension/lambda code objects included);
* a stable repr of every module-level CONSTANT in plans.queries it
  references (SQL template strings, parameter dicts, band counts — a
  tweak to ``_HUB_K`` changes every query built on it);
* the FILE BYTES of every other ``movievectorsearch_spark`` module it
  reaches (an operator edit changes every query built on that
  operator — deliberately coarse: at module granularity a change can
  only over-report, never go unnoticed), expanded transitively through
  each module's own movievectorsearch_spark imports;
* its ORACLE SQL string.

Users:

* ``query_fingerprints`` has no caller outside the tests; its planned
  user is the per-query run record (ROADMAP Direction 3), which names
  each timed query's implementation by its fingerprint;
* ``tests/test_bench_policy.py`` walks each bench-excluded builder's
  module closure (``_inner_fn`` → ``_walk`` → ``_module_closure``) to
  check that no query reaching the iterative operators is left out of
  both bench tiers.

Known limits (conservative directionality preserved): dynamically
dispatched names (getattr-by-string) and method calls resolved through
object types are not traced — but every such site in this repo lives in
an operator module, which is hashed whole-file; and sources/ modules
reached only through ``load_table`` are in every query's closure, so a
catalog change changes every fingerprint (correct: it can change every
scan).
"""

from __future__ import annotations

import hashlib
import inspect
import json
import os
import re
import types
from typing import Any

_PKG = "movievectorsearch_spark"
_SELF = f"{_PKG}.plans.fingerprint"
_QMOD = f"{_PKG}.plans.queries"


def _code_objects(code: types.CodeType):
    """Yield a code object and every nested code object (comprehensions,
    lambdas, inner defs) — their co_names also reference module globals."""
    yield code
    for const in code.co_consts:
        if isinstance(const, types.CodeType):
            yield from _code_objects(const)


def _stable_repr(value: Any) -> str:
    """Deterministic repr for module-level constants (dict insertion
    order is source order, so plain repr is stable for our literals)."""
    try:
        return repr(value)
    except Exception:
        return f"<unreprable {type(value).__name__}>"


def _inner_fn(fn):
    """Unwrap the q()-decorator closure to the real builder."""
    seen = getattr(fn, "__wrapped__", None)
    if seen is not None:
        return seen
    for cell in fn.__closure__ or ():
        try:
            v = cell.cell_contents
        except ValueError:
            continue
        if inspect.isfunction(v):
            return v
    return fn


def _walk(fn, fn_sources: dict, consts: dict, modules: set) -> None:
    key = f"{fn.__module__}.{fn.__qualname__}"
    if key in fn_sources:
        return
    try:
        fn_sources[key] = inspect.getsource(fn)
    except (OSError, TypeError):
        # builtins / C functions / exec'd code: hash the bytecode instead
        code = getattr(fn, "__code__", None)
        fn_sources[key] = code.co_code.hex() if code is not None else key
        return
    if fn.__module__ != _QMOD:
        # a helper living in an operator/function module: the whole file
        # is hashed below; no need to chase its internal references here
        modules.add(fn.__module__)
        return
    code = getattr(fn, "__code__", None)
    if code is None:
        return
    # function-LOCAL imports bind locals, never globals — lift them from
    # the AST. `from pkg.operators import multimodal` must contribute the
    # SUBMODULE, not the bare package: a package object's attributes are
    # import side-effects of the whole process (queries.py imports every
    # operator), so hashing a package would couple every query to every
    # module. _module_closure resolves `pkg.mod.func` candidates by
    # stripping trailing components until a module imports.
    import ast
    import textwrap

    try:
        tree = ast.parse(textwrap.dedent(fn_sources[key]))
    except SyntaxError:
        tree = None
    if tree is not None:
        for node in ast.walk(tree):
            if isinstance(node, ast.ImportFrom) and node.level == 0:
                if node.module and node.module.startswith(_PKG):
                    for alias in node.names:
                        modules.add(f"{node.module}.{alias.name}")
            elif isinstance(node, ast.Import):
                for alias in node.names:
                    if alias.name.startswith(_PKG):
                        modules.add(alias.name)
    g = fn.__globals__
    for co in _code_objects(code):
        for name in co.co_names:
            if name not in g:
                continue
            v = g[name]
            if inspect.isfunction(v):
                mod = getattr(v, "__module__", "") or ""
                if mod == _QMOD:
                    _walk(v, fn_sources, consts, modules)
                elif mod.startswith(_PKG):
                    modules.add(mod)
            elif inspect.ismodule(v):
                if (v.__name__ or "").startswith(_PKG):
                    modules.add(v.__name__)
            elif inspect.isclass(v):
                mod = getattr(v, "__module__", "") or ""
                if mod.startswith(_PKG) and mod != _QMOD:
                    modules.add(mod)
                elif mod == _QMOD:
                    try:
                        fn_sources[f"{mod}.{v.__qualname__}"] = (
                            inspect.getsource(v)
                        )
                    except (OSError, TypeError):
                        pass
            elif not callable(v):
                # module-level constant in queries.py (SQL template,
                # parameter dict/int): its value is part of the query
                consts.setdefault(f"{_QMOD}.{name}", _stable_repr(v))


def _module_closure(modules: set) -> dict[str, str]:
    """Transitively expand through movievectorsearch_spark imports and
    hash each module's file bytes."""
    import importlib

    todo = sorted(modules)
    seen: set[str] = set()
    hashes: dict[str, str] = {}
    while todo:
        name = todo.pop()
        if name in seen or name in (_SELF, _QMOD):
            continue
        seen.add(name)
        # resolve `pkg.mod.attr` candidates (from-imports of functions,
        # dotted references in docstrings) up to their containing module
        mod, probe = None, name
        while probe.startswith(_PKG):
            try:
                mod = importlib.import_module(probe)
                break
            except Exception:
                probe = probe.rsplit(".", 1)[0] if "." in probe else ""
        if mod is None:
            hashes[name] = "unimportable"
            continue
        if mod.__name__ in (_SELF, _QMOD):
            continue
        if mod.__name__ != name:
            if mod.__name__ in seen:
                continue
            seen.add(mod.__name__)
        name = mod.__name__
        path = getattr(mod, "__file__", None)
        if path and os.path.exists(path):
            with open(path, "rb") as f:
                data = f.read()
            hashes[name] = hashlib.sha256(data).hexdigest()
            # function-LOCAL imports inside the module never appear in
            # vars(mod) — scan the source for dotted package paths too
            for m in re.finditer(
                rb"movievectorsearch_spark(?:\.\w+)+", data
            ):
                dep = m.group(0).decode()
                if dep not in seen:
                    todo.append(dep)
        else:
            hashes[name] = "no-file"
        if hasattr(mod, "__path__"):
            # a PACKAGE: its attributes are process-wide import
            # side-effects, not declared dependencies — the __init__
            # file hash + regex scan above already cover what it states
            continue
        for v in vars(mod).values():
            dep = None
            if inspect.ismodule(v):
                dep = v.__name__ or ""
            elif inspect.isfunction(v) or inspect.isclass(v):
                dep = getattr(v, "__module__", "") or ""
            if dep and dep.startswith(_PKG) and dep not in seen:
                todo.append(dep)
    return hashes


def fingerprint_one(name: str, entry: dict) -> str:
    fn = _inner_fn(entry["spark"])
    fn_sources: dict[str, str] = {}
    consts: dict[str, str] = {}
    modules: set[str] = set()
    _walk(fn, fn_sources, consts, modules)
    payload = json.dumps(
        {
            "fns": dict(sorted(fn_sources.items())),
            "consts": dict(sorted(consts.items())),
            "modules": dict(sorted(_module_closure(modules).items())),
            "sql": entry.get("sql"),
        },
        sort_keys=True,
    )
    return hashlib.sha256(payload.encode()).hexdigest()


_CACHE: dict[str, str] | None = None


def query_fingerprints(queries: dict[str, dict]) -> dict[str, str]:
    """name -> fingerprint for the whole registry (cached per process)."""
    global _CACHE
    if _CACHE is None or set(_CACHE) != set(queries):
        out = {}
        for name, entry in queries.items():
            try:
                out[name] = fingerprint_one(name, entry)
            except Exception:
                out[name] = "fingerprint-error"  # tests/test_fingerprint.py flags it
        _CACHE = out
    return _CACHE

