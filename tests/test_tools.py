"""The scripts under ``tools/`` against the code they drive.

``test_tool_imports_resolve`` is Spark-free: it walks each tool's AST
(imports inside functions included) and checks that every import of a
repo module names something that exists, and that every attribute read
off an imported repo module exists, so a deleted or renamed engine
symbol fails here instead of the next time someone runs the tool.

``test_key_probe_reports_layers`` runs ``tools/key_probe.py``'s per-key
function on the test session: it fails when the benchmark's ``Tracer``
API, ``bench.execute`` or the probe drift apart.
"""

from __future__ import annotations

import ast
import glob
import importlib
import importlib.util
import os

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TOOLS = sorted(glob.glob(os.path.join(REPO, "tools", "*.py")))
# top-level modules and packages of this repository
LOCAL = ("flink_rc_spark", "bench", "perfbench", "tests", "__spark_entry__")


def _is_local(module: str) -> bool:
    return module.split(".")[0] in LOCAL


def _is_submodule(module: str, name: str) -> bool:
    package = importlib.import_module(module)
    return (
        hasattr(package, "__path__")
        and importlib.util.find_spec(f"{module}.{name}") is not None
    )


def unresolved(source: str) -> list[str]:
    """Repo imports in ``source`` that do not resolve, and attributes
    read off imported repo modules that do not exist."""
    tree = ast.parse(source)
    bad: list[str] = []
    modules: dict[str, str] = {}  # bound name -> repo module
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom):
            if node.level or not node.module or not _is_local(node.module):
                continue
            try:
                mod = importlib.import_module(node.module)
            except ImportError as e:
                bad.append(f"line {node.lineno}: {node.module}: {e}")
                continue
            for alias in node.names:
                bound = alias.asname or alias.name
                if _is_submodule(node.module, alias.name):
                    modules[bound] = f"{node.module}.{alias.name}"
                elif not hasattr(mod, alias.name):
                    bad.append(f"line {node.lineno}: {node.module}.{alias.name}")
        elif isinstance(node, ast.Import):
            for alias in node.names:
                if not _is_local(alias.name):
                    continue
                try:
                    importlib.import_module(alias.name)
                except ImportError as e:
                    bad.append(f"line {node.lineno}: {alias.name}: {e}")
                    continue
                if alias.asname:
                    modules[alias.asname] = alias.name
                else:
                    root = alias.name.split(".")[0]
                    modules[root] = root
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Attribute)
            and isinstance(node.value, ast.Name)
            and node.value.id in modules
        ):
            name = modules[node.value.id]
            mod = importlib.import_module(name)
            if not hasattr(mod, node.attr) and not _is_submodule(name, node.attr):
                bad.append(f"line {node.lineno}: {name}.{node.attr}")
    return bad


@pytest.mark.parametrize("path", TOOLS, ids=os.path.basename)
def test_tool_imports_resolve(path):
    with open(path) as f:
        assert unresolved(f.read()) == []


def test_unresolved_flags_missing_names():
    src = (
        "import bench\n"
        "def f():\n"
        "    from flink_rc_spark.llm.similarity import _plane_weight, _DOT_FLAT\n"
        "    from flink_rc_spark.llm import cluster as C\n"
        "    from flink_rc_spark.no_such_module import x\n"
        "    return bench.execute, bench.no_such_fn, C.lloyd_cte, C._DIST_SPARK_FLAT\n"
    )
    bad = unresolved(src)
    assert len(bad) == 4, bad
    for name in ("_DOT_FLAT", "no_such_module", "bench.no_such_fn", "_DIST_SPARK_FLAT"):
        assert any(name in b for b in bad), (name, bad)


def test_key_probe_reports_layers(spark, sf_dir):
    from flink_rc_spark.registry import load_all
    from perfbench.tracer import LOST, Tracer

    load_all()
    spec = importlib.util.spec_from_file_location(
        "key_probe", os.path.join(REPO, "tools", "key_probe.py")
    )
    key_probe = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(key_probe)

    tracer = Tracer(spark, "test_key_probe")
    try:
        walls, q6 = key_probe.probe_key(spark, tracer, "q_tpch_q6", sf_dir, 2)
        _, tumbling = key_probe.probe_key(
            spark, tracer, "q_stream_tumbling", sf_dir, 1
        )
    finally:
        tracer.close()

    assert len(walls) == 2 and min(walls) == round(q6["builder_s"] + q6["exec_s"], 4)
    assert q6["builder.jobs"] == 0, q6
    assert q6["exec.jobs"] >= 1, q6
    assert q6["scan.files"] >= 1, q6
    assert tumbling["stream.batches"] >= 1, tumbling
    for reading in (q6, tumbling):
        for name in LOST:
            assert reading[name] == 0, (name, reading)
    line = key_probe.format_reading(q6)
    assert line.startswith("builder_s=") and "trace.jobs_lost=0" in line, line
    assert "builder.jobs" not in line, line  # zero readings are left out
