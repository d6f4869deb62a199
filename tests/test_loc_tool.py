"""``tools/loc.py`` counts code lines: not blank, not comment-only, not
docstring — but every line of a multi-line code string counts."""

from __future__ import annotations

import importlib.util
from pathlib import Path

_SPEC = importlib.util.spec_from_file_location(
    "loc", Path(__file__).resolve().parents[1] / "tools" / "loc.py"
)
loc = importlib.util.module_from_spec(_SPEC)
_SPEC.loader.exec_module(loc)

SNIPPET = '''"""Module docstring,
two lines."""

import os  # a trailing comment does not hide code

# a comment-only line


def f(x):
    """Function docstring."""
    sql = """
        SELECT 1
    """
    return x + len(sql)


class C:
    """Class docstring."""

    y = 1
'''


def test_loc_counts_code_lines_only():
    # import, def, sql (3 lines), return, class, y = 1
    assert loc.count_code_lines(SNIPPET) == 8


def test_loc_main_prints_per_file_and_total(tmp_path, capsys):
    p = tmp_path / "m.py"
    p.write_text(SNIPPET)
    assert loc.main([str(p), str(p)]) == 0
    out = capsys.readouterr().out.splitlines()
    assert out == [f"     8 {p}", f"     8 {p}", "    16 total"]
