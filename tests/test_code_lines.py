"""scripts/code_lines.py: the tokenize count ROADMAP's done-criteria
quote (no blank lines, comments or docstrings). Spark-free."""

from __future__ import annotations

import importlib.util
import pathlib

_PATH = pathlib.Path(__file__).resolve().parent.parent / "scripts" / "code_lines.py"
_spec = importlib.util.spec_from_file_location("code_lines", _PATH)
code_lines = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(code_lines)

SNIPPET = '''"""Module docstring
over two lines."""

import os  # trailing comment


def f(a,
      b):
    """Function docstring."""
    # a whole-line comment

    x = """a string that is
not a docstring"""
    return (a +
            b + len(x))


class C:
    "class docstring"
    y = os.sep
'''


def test_counts_code_lines_of_a_fixed_snippet():
    # import; def f(a, / b):; x = """ / not a docstring"""; return (a + /
    # b + len(x)); class C:; y = os.sep
    assert code_lines.code_lines(SNIPPET) == 9


def test_blank_comment_and_docstring_only_source_counts_zero():
    assert code_lines.code_lines('"""doc."""\n\n# comment\n') == 0
