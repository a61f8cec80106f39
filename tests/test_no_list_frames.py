"""Every frame the engine builds from driver values goes through
``session.local_frame``: a ``createDataFrame`` call anywhere else builds
an RDD-backed table whose scans run Python workers (~300 ms a task).
Spark-free: the modules are parsed, not imported."""

import ast
import pathlib

PKG = pathlib.Path(__file__).resolve().parent.parent / "inferdf_rs_spark"
ALLOWED = ("session.py", "local_frame")


def create_dataframe_calls(path: pathlib.Path):
    """(line, enclosing function name or None) of every
    ``<expr>.createDataFrame(...)`` call in the module."""
    tree = ast.parse(path.read_text(), filename=str(path))

    def walk(node, func):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                yield from walk(child, child.name)
                continue
            if (
                isinstance(child, ast.Call)
                and isinstance(child.func, ast.Attribute)
                and child.func.attr == "createDataFrame"
            ):
                yield child.lineno, func
            yield from walk(child, func)

    yield from walk(tree, None)


def test_create_dataframe_only_in_local_frame():
    offenders, seen_helper = [], False
    for path in sorted(PKG.rglob("*.py")):
        for lineno, func in create_dataframe_calls(path):
            if (path.name, func) == ALLOWED:
                seen_helper = True
            else:
                offenders.append(f"{path.relative_to(PKG.parent)}:{lineno} (in {func})")
    assert not offenders, "build driver-side frames with session.local_frame: " + ", ".join(offenders)
    assert seen_helper, "session.local_frame no longer calls createDataFrame"


def test_detects_a_list_built_frame(tmp_path):
    mod = tmp_path / "m.py"
    mod.write_text(
        "def dims(spark):\n"
        "    def inner():\n"
        "        return spark.createDataFrame([(1,)], 'a int')\n"
        "    return inner()\n"
    )
    assert list(create_dataframe_calls(mod)) == [(3, "inner")]
