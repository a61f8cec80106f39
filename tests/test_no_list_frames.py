"""Two construction rules, checked on the parsed source (Spark-free: the
modules are parsed, not imported):

- every frame the engine builds from driver values goes through
  ``session.local_frame``: a ``createDataFrame`` call anywhere else
  builds an RDD-backed table whose scans run Python workers (~300 ms a
  task);
- the rule loop (fixpoint and retraction) and the web-KG stages around
  it (extraction, the batch run, a stream micro-batch) materialize every
  table by a ``CheckpointTracker`` checkpoint whose own job observes its
  stats: a ``persist`` or a bare ``localCheckpoint`` there would be a
  second, untracked way to hold a table."""

import ast
import pathlib

PKG = pathlib.Path(__file__).resolve().parent.parent / "inferdf_rs_spark"
ALLOWED = ("session.py", "local_frame")
CHECKPOINT_ONLY = (
    "operators/fixpoint.py",
    "operators/retract.py",
    "extraction/extract.py",
    "pipelines/webkg.py",
    "streaming/ingest.py",
)


def method_calls(path: pathlib.Path, attr: str):
    """(line, enclosing function name or None) of every
    ``<expr>.<attr>(...)`` call in the module."""
    tree = ast.parse(path.read_text(), filename=str(path))

    def walk(node, func):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                yield from walk(child, child.name)
                continue
            if (
                isinstance(child, ast.Call)
                and isinstance(child.func, ast.Attribute)
                and child.func.attr == attr
            ):
                yield child.lineno, func
            yield from walk(child, func)

    yield from walk(tree, None)


def test_create_dataframe_only_in_local_frame():
    offenders, seen_helper = [], False
    for path in sorted(PKG.rglob("*.py")):
        for lineno, func in method_calls(path, "createDataFrame"):
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
    assert list(method_calls(mod, "createDataFrame")) == [(3, "inner")]


def test_rule_loop_deltas_are_checkpoints_only():
    offenders = [
        f"{name}:{lineno} {attr} (in {func})"
        for name in CHECKPOINT_ONLY
        for attr in ("persist", "localCheckpoint")
        for lineno, func in method_calls(PKG / name, attr)
    ]
    assert not offenders, "materialize through CheckpointTracker: " + ", ".join(offenders)


def test_detects_a_persisted_delta(tmp_path):
    mod = tmp_path / "m.py"
    mod.write_text(
        "def stage(df, lvl):\n"
        "    return df.persist(lvl)\n"
        "def stage2(df):\n"
        "    return df.localCheckpoint(eager=True)\n"
    )
    assert list(method_calls(mod, "persist")) == [(2, "stage")]
    assert list(method_calls(mod, "localCheckpoint")) == [(4, "stage2")]
