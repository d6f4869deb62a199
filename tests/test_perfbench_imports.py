"""The benchmark under ``perfbench/`` imports engine names directly
(``from scats_transis_kinesis_spark.streaming.kinesis_sink import
THROTTLE_ERROR`` and so on), often inside functions.  A refactor that
moves or deletes one of those names would only surface when the
benchmark runs; this test resolves every such import statically."""

from __future__ import annotations

import ast
import importlib
import pathlib

PACKAGE = "scats_transis_kinesis_spark"
PERFBENCH = pathlib.Path(__file__).resolve().parent.parent / "perfbench"


def _engine_imports() -> list[tuple[str, str, str | None]]:
    """``(file:line, module, name)`` for every import of the engine
    package anywhere in a ``perfbench`` source file; ``name`` is
    ``None`` for a plain ``import module``."""
    found = []
    for path in sorted(PERFBENCH.rglob("*.py")):
        tree = ast.parse(path.read_text(), filename=str(path))
        for node in ast.walk(tree):
            where = f"{path.relative_to(PERFBENCH.parent)}:{getattr(node, 'lineno', 0)}"
            if isinstance(node, ast.ImportFrom) and node.level == 0:
                if (node.module or "").split(".")[0] == PACKAGE:
                    found += [(where, node.module, a.name) for a in node.names]
            elif isinstance(node, ast.Import):
                found += [
                    (where, a.name, None)
                    for a in node.names
                    if a.name.split(".")[0] == PACKAGE
                ]
    return found


def test_perfbench_engine_imports_resolve():
    imports = _engine_imports()
    assert imports, "perfbench must import the engine it measures"
    broken = []
    for where, module, name in imports:
        try:
            mod = importlib.import_module(module)
            if name is not None and not hasattr(mod, name):
                importlib.import_module(f"{module}.{name}")  # a submodule
        except ImportError as e:
            broken.append(f"{where}: {e}")
    assert not broken, "\n".join(broken)
