"""Layout guard for ``plans/``: modules are named by query family, and a
plan module uses no private (underscore) name of another plan module —
a helper several families share lives in ``operators/`` or under a
public name in the family that owns it.

Pure ``ast`` over the source files; no Spark session needed.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

PLANS = Path(__file__).resolve().parent.parent / "scats_transis_kinesis_spark" / "plans"


def _plan_modules() -> dict[str, ast.Module]:
    return {p.stem: ast.parse(p.read_text()) for p in sorted(PLANS.glob("*.py"))}


def test_no_round_named_plan_module():
    named_by_round = [
        m
        for m in _plan_modules()
        if re.fullmatch(r"pipeline_queries\d*", m) or m.endswith("_queries2")
    ]
    assert not named_by_round, f"plan modules named by round: {named_by_round}"


def test_no_private_import_between_plan_modules():
    mods = _plan_modules()
    bad = []
    for name, tree in mods.items():
        for node in ast.walk(tree):
            if not (isinstance(node, ast.ImportFrom) and node.level == 1):
                continue
            # "from . import x" imports a module; "from .x import y" a name
            source = node.module or ""
            if source not in mods:
                continue
            bad += [
                f"{name}: from .{source} import {a.name}"
                for a in node.names
                if a.name.startswith("_")
            ]
    assert not bad, "private names imported between plan modules:\n" + "\n".join(bad)
