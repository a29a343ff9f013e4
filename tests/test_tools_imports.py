"""Every name a tool script imports still exists.

The tools and ``bench.py`` are scripts, not modules the suite imports, so
a package refactor that deletes or renames a function breaks them only
when someone next runs them. This test reads their source with ``ast``
(nothing is executed, no SparkSession starts) and checks, at any depth
(imports inside functions too):

- each ``from aws_cloudfront_realtime_monitoring_spark... import X``
  against the package;
- each import of a sibling script (``from bench import X``,
  ``import scale as sc``, ``from test_jpeg import ...``)
  against that script's file and top-level names, including the
  ``sc.X`` attributes read through a module alias. A module that is
  neither installed nor a script in ``tools/``, the repo root or
  ``tests/`` is reported as missing.
"""

from __future__ import annotations

import ast
import importlib
import importlib.util
from pathlib import Path

import pytest

PKG = "aws_cloudfront_realtime_monitoring_spark"
ROOT = Path(__file__).resolve().parent.parent
SCRIPTS = sorted((ROOT / "tools").glob("*.py")) + [
    ROOT / "bench.py", ROOT / "__spark_entry__.py"]
#: where a script's bare ``import x`` can find ``x.py`` (the scripts put
#: these directories on sys.path), first match wins
SCRIPT_DIRS = [ROOT / "tools", ROOT, ROOT / "tests"]


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


def _script_module(name: str) -> Path | None:
    for d in SCRIPT_DIRS:
        if (d / f"{name}.py").is_file():
            return d / f"{name}.py"
    return None


def _top_level_names(path: Path) -> set[str]:
    """Names bound at module level (also under top-level if/try)."""
    names: set[str] = set()

    def visit(body) -> None:
        for node in body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                                 ast.ClassDef)):
                names.add(node.name)
            elif isinstance(node, (ast.Assign, ast.AnnAssign)):
                targets = (node.targets if isinstance(node, ast.Assign)
                           else [node.target])
                for t in targets:
                    names.update(n.id for n in ast.walk(t)
                                 if isinstance(n, ast.Name))
            elif isinstance(node, (ast.Import, ast.ImportFrom)):
                names.update((a.asname or a.name).split(".")[0]
                             for a in node.names)
            elif isinstance(node, (ast.If, ast.Try)):
                visit(node.body)
                visit(node.orelse)
                for h in getattr(node, "handlers", []):
                    visit(h.body)
                visit(getattr(node, "finalbody", []))

    visit(ast.parse(path.read_text(), str(path)).body)
    return names


def _missing_local_imports(path: Path) -> list[str]:
    """Sibling-script imports of ``path`` that resolve to no file or to
    no top-level name of that file."""
    tree = ast.parse(path.read_text(), str(path))
    missing, aliases = [], {}
    wanted: list[tuple[int, str, str | None]] = []
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and node.level == 0:
            wanted.extend((node.lineno, node.module, a.name)
                          for a in node.names)
        elif isinstance(node, ast.Import):
            for a in node.names:
                wanted.append((node.lineno, a.name, None))
                if a.asname:
                    aliases[a.asname] = a.name
    for node in ast.walk(tree):
        if (isinstance(node, ast.Attribute)
                and isinstance(node.value, ast.Name)
                and node.value.id in aliases):
            wanted.append((node.lineno, aliases[node.value.id], node.attr))
    for lineno, module, name in wanted:
        top = module.split(".")[0]
        script = _script_module(top) if "." not in module else None
        if script is None:
            if top == PKG or importlib.util.find_spec(top) is not None:
                continue  # the package (checked above) or installed
            missing.append(f"{path.name}:{lineno}: no module {module}")
        elif name not in (None, "*") and name not in _top_level_names(script):
            missing.append(f"{path.name}:{lineno}: {module}.{name}")
    return missing


@pytest.mark.parametrize("path", SCRIPTS, ids=lambda p: p.name)
def test_script_local_imports_exist(path):
    missing = _missing_local_imports(path)
    assert not missing, missing


def test_local_import_scan_sees_function_level_imports(tmp_path):
    """The scan reaches imports inside functions and alias attributes,
    and reports a sibling script that does not exist."""
    probe = tmp_path / "probe.py"
    probe.write_text(
        "import scale as sc\n"
        "def f():\n"
        "    from bench import _status_mark, _no_such_helper\n"
        "    from measure_gone import mem_probe\n"
        "    return sc.run_family, sc.NO_SUCH_CONSTANT\n")
    assert _missing_local_imports(probe) == [
        "probe.py:3: bench._no_such_helper",
        "probe.py:4: no module measure_gone",
        "probe.py:5: scale.NO_SUCH_CONSTANT",
    ]
