"""Every package name a tool script imports still exists.

The tools and ``bench.py`` are scripts, not modules the suite imports, so
a package refactor that deletes or renames a function breaks them only
when someone next runs them. This test reads their source with ``ast``
(nothing is executed, no SparkSession starts) and checks each
``from aws_cloudfront_realtime_monitoring_spark... import X`` against the
package.
"""

from __future__ import annotations

import ast
import importlib
from pathlib import Path

import pytest

PKG = "aws_cloudfront_realtime_monitoring_spark"
ROOT = Path(__file__).resolve().parent.parent
SCRIPTS = sorted((ROOT / "tools").glob("*.py")) + [
    ROOT / "bench.py", ROOT / "__spark_entry__.py"]


def _package_imports(path: Path) -> list[tuple[int, str, str]]:
    out = []
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.ImportFrom) and node.level == 0 and (
                node.module == PKG or (node.module or "").startswith(PKG + ".")):
            out.extend((node.lineno, node.module, a.name) for a in node.names)
    return out


@pytest.mark.parametrize("path", SCRIPTS, ids=lambda p: p.name)
def test_script_package_imports_exist(path):
    missing = []
    for lineno, module, name in _package_imports(path):
        mod = importlib.import_module(module)
        if name == "*" or hasattr(mod, name):
            continue
        try:  # a submodule not yet imported as a package attribute
            importlib.import_module(f"{module}.{name}")
        except ModuleNotFoundError:
            missing.append(f"{path.name}:{lineno}: {module}.{name}")
    assert not missing, missing


def test_scan_finds_package_imports():
    """The scan is not vacuous: the tools do import from the package."""
    assert sum(len(_package_imports(p)) for p in SCRIPTS) > 20
