"""Every name a tools/ script takes from bench.py still exists there.

The tools have no tests of their own, so a name deleted from bench.py
would only surface when someone next runs the tool. This reads each
script's ``bench.<name>`` attributes and ``from bench import <name>``
imports with ``ast`` (no Spark session) and checks them against the
loaded bench module."""

from __future__ import annotations

import ast
import importlib.util
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


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
