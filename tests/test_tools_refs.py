"""Every name a tools/ script takes from bench.py, every name the
scripts, perfbench and bench.py import from the package, every
``tools/<name>.py`` the docs mention, and every Sphinx cross-reference
in a package docstring, still exists.

The tools and perfbench have no tests of their own, so a deleted name
would only surface when someone next runs the script. This reads each
script's ``bench.<name>`` attributes, ``from bench import <name>`` and
``from movievectorsearch_spark.<mod> import <name>`` imports with
``ast`` (no Spark session) and checks them against the loaded
modules."""

from __future__ import annotations

import ast
import importlib
import importlib.util
import re
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = "movievectorsearch_spark"


def _load_bench():
    spec = importlib.util.spec_from_file_location("bench", ROOT / "bench.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _bench_refs(path: Path) -> set[str]:
    refs = set()
    for node in ast.walk(ast.parse(path.read_text(), filename=str(path))):
        if (
            isinstance(node, ast.Attribute)
            and isinstance(node.value, ast.Name)
            and node.value.id == "bench"
        ):
            refs.add(node.attr)
        elif isinstance(node, ast.ImportFrom) and node.module == "bench":
            refs.update(alias.name for alias in node.names)
    return refs


def test_tools_reference_only_existing_bench_names():
    bench = _load_bench()
    tools = sorted((ROOT / "tools").glob("*.py"))
    assert tools
    missing = {
        f"{path.name}: bench.{name}"
        for path in tools
        for name in _bench_refs(path)
        if not hasattr(bench, name)
    }
    assert missing == set(), sorted(missing)


def test_ref_scan_sees_both_forms(tmp_path):
    script = tmp_path / "t.py"
    script.write_text(
        "from bench import BENCH_QUERIES\n"
        "import bench\n"
        "x = bench.BENCH_HEAVY\n"
    )
    assert _bench_refs(script) == {"BENCH_QUERIES", "BENCH_HEAVY"}


def _package_imports(path: Path) -> set[tuple[str, str]]:
    """(module, name) for every ``from movievectorsearch_spark[.<mod>]
    import <name>`` in the script, function-local imports included."""
    return {
        (node.module, alias.name)
        for node in ast.walk(ast.parse(path.read_text(), filename=str(path)))
        if isinstance(node, ast.ImportFrom)
        and node.level == 0
        and node.module is not None
        and (node.module == PKG or node.module.startswith(PKG + "."))
        for alias in node.names
    }


def _resolves(module: str, name: str) -> bool:
    mod = importlib.import_module(module)
    if hasattr(mod, name):
        return True
    # `from pkg import submodule` also resolves an unimported submodule
    try:
        return importlib.util.find_spec(f"{module}.{name}") is not None
    except ModuleNotFoundError:  # `module` is not a package
        return False


def test_scripts_import_only_existing_package_names():
    scripts = sorted(
        [*(ROOT / "tools").glob("*.py"), *(ROOT / "perfbench").glob("*.py")]
    ) + [ROOT / "bench.py"]
    refs = {
        (path.relative_to(ROOT).as_posix(), module, name)
        for path in scripts
        for module, name in _package_imports(path)
    }
    assert refs
    missing = sorted(
        f"{path}: from {module} import {name}"
        for path, module, name in refs
        if not _resolves(module, name)
    )
    assert missing == []


def test_package_import_scan(tmp_path):
    script = tmp_path / "t.py"
    script.write_text(
        "from movievectorsearch_spark.plans import queries as Q\n"
        "from movievectorsearch_spark.operators.dsir import nope\n"
        "import movievectorsearch_spark\n"
        "from bench import BENCH_QUERIES\n"
        "def f():\n"
        "    from movievectorsearch_spark.session import get_spark\n"
    )
    assert _package_imports(script) == {
        ("movievectorsearch_spark.plans", "queries"),
        ("movievectorsearch_spark.operators.dsir", "nope"),
        ("movievectorsearch_spark.session", "get_spark"),
    }
    assert _resolves("movievectorsearch_spark.plans", "queries")
    assert not _resolves("movievectorsearch_spark.operators.dsir", "nope")


DOCS = ("README.md", ".claude/skills/verify/SKILL.md")


def test_docs_name_only_existing_tools():
    refs = {
        (doc, f"tools/{name}.py")
        for doc in DOCS
        for name in re.findall(r"\btools/(\w+)\.py\b", (ROOT / doc).read_text())
    }
    assert refs
    missing = sorted(
        f"{doc}: {ref}" for doc, ref in refs if not (ROOT / ref).is_file()
    )
    assert missing == []


_SPHINX_REF = re.compile(r":(func|data|class|mod):`~?\.?([\w.]+)`")


def _package_index(root: Path) -> tuple[set[str], set[tuple[str, str]], dict]:
    """Dotted module names, (module, name) for every def/class at any
    depth and every top-level assignment, and each module's docstring
    references, all read with ``ast`` (nothing is imported)."""
    modules, defined, refs = set(), set(), {}
    for path in sorted(root.rglob("*.py")):
        parts = path.relative_to(root.parent).with_suffix("").parts
        module = ".".join(parts[:-1] if parts[-1] == "__init__" else parts)
        modules.add(module)
        tree = ast.parse(path.read_text(), filename=str(path))
        for node in ast.walk(tree):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                defined.add((module, node.name))
        for node in tree.body:
            targets = (
                node.targets if isinstance(node, ast.Assign)
                else [node.target] if isinstance(node, ast.AnnAssign) else []
            )
            defined.update((module, t.id) for t in targets if isinstance(t, ast.Name))
        refs[module] = {
            (role, name)
            for node in [tree, *ast.walk(tree)]
            if isinstance(node, (ast.Module, ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
            and (doc := ast.get_docstring(node))
            for role, name in _SPHINX_REF.findall(doc)
        }
    return modules, defined, refs


def _ref_exists(role: str, name: str, modules: set, defined: set) -> bool:
    """A reference resolves when its dotted path ends a module name
    (``:mod:``) or names a definition in a module whose dotted name ends
    with the reference's prefix (bare names: any package module)."""
    def ends(module: str, suffix: str) -> bool:
        return module == suffix or module.endswith("." + suffix)

    if role == "mod":
        return any(ends(m, name) for m in modules)
    prefix, _, attr = name.rpartition(".")
    return any((not prefix or ends(m, prefix)) and a == attr for m, a in defined)


def _dangling_doc_refs(root: Path) -> list[str]:
    modules, defined, refs = _package_index(root)
    return sorted(
        f"{module}: :{role}:`{name}`"
        for module, found in refs.items()
        for role, name in found
        if not _ref_exists(role, name, modules, defined)
    )


def test_package_docstrings_cite_only_existing_objects():
    assert _dangling_doc_refs(ROOT / PKG) == []


def test_doc_ref_scan_finds_a_dangling_reference(tmp_path):
    pkg = tmp_path / "pkg"
    (pkg / "ops").mkdir(parents=True)
    (pkg / "__init__.py").write_text("")
    (pkg / "ops" / "__init__.py").write_text("")
    (pkg / "ops" / "a.py").write_text(
        '"""See :mod:`ops.a` and :data:`LIMIT`."""\n'
        "LIMIT = 3\n"
        "def kept():\n"
        '    """Like :func:`gone`, unlike :func:`ops.a.kept` or :func:`~pkg.ops.a.kept`."""\n'
    )
    assert _dangling_doc_refs(pkg) == ["pkg.ops.a: :func:`gone`"]
