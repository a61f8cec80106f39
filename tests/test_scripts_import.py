"""The kept entry scripts import only engine names that exist and are
public, so they cannot rot silently or pin engine internals.  Spark-free:
the scripts are parsed, not run."""

import ast
import importlib
import importlib.util
import pathlib

import pytest

ROOT = pathlib.Path(__file__).resolve().parent.parent
SCRIPTS = sorted(ROOT.glob("jobs/*.py")) + [
    ROOT / name for name in ("bench.py", "bench_scaling.py", "__spark_entry__.py")
]


def engine_imports(path: pathlib.Path):
    """(line, module, imported name or None) for every absolute import
    of the engine package anywhere in the script, nested ones included."""
    for node in ast.walk(ast.parse(path.read_text(), filename=str(path))):
        if isinstance(node, ast.ImportFrom):
            if node.level == 0 and node.module.split(".")[0] == "inferdf_rs_spark":
                for alias in node.names:
                    yield node.lineno, node.module, alias.name
        elif isinstance(node, ast.Import):
            for alias in node.names:
                if alias.name.split(".")[0] == "inferdf_rs_spark":
                    yield node.lineno, alias.name, None


@pytest.mark.parametrize("path", SCRIPTS, ids=lambda p: p.name)
def test_script_engine_imports_resolve_and_are_public(path):
    assert path.is_file(), path
    for lineno, module, name in engine_imports(path):
        where = f"{path.name}:{lineno}"
        mod = importlib.import_module(module)
        if name is None:
            continue
        assert not name.startswith("_"), f"{where} imports private {module}.{name}"
        assert hasattr(mod, name) or importlib.util.find_spec(f"{module}.{name}"), (
            f"{where}: {module} has no {name}"
        )
