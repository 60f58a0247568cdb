"""Code lines per engine file and the engine total.

A code line is a physical line that carries at least one token other
than a comment, a docstring or layout (blank lines, newlines, indents).
A token spanning several lines (a multi-line string that is not a
docstring) counts every line it spans; a docstring is a string literal
that forms a whole statement. This is the count ROADMAP's done-criteria
quote.

Usage: python scripts/code_lines.py
"""

from __future__ import annotations

import io
import pathlib
import tokenize

ENGINE = (
    pathlib.Path(__file__).resolve().parent.parent
    / "sample_for_transactional_datalake_using_s3tables_spark"
)

_LAYOUT = {
    tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE, tokenize.INDENT,
    tokenize.DEDENT, tokenize.ENDMARKER,
}
_STMT_START = {None, tokenize.NEWLINE, tokenize.INDENT, tokenize.DEDENT}


def code_lines(src: str) -> int:
    """Number of code lines in the Python source ``src``."""
    toks = list(tokenize.generate_tokens(io.StringIO(src).readline))
    lines: set[int] = set()
    prev = None  # type of the last non-comment, non-NL token
    for i, t in enumerate(toks):
        if t.type in _LAYOUT:
            if t.type not in (tokenize.COMMENT, tokenize.NL):
                prev = t.type
            continue
        if t.type == tokenize.STRING and prev in _STMT_START:
            nxt = next(u for u in toks[i + 1:] if u.type != tokenize.COMMENT)
            if nxt.type in (tokenize.NEWLINE, tokenize.ENDMARKER):
                prev = tokenize.STRING  # a docstring: counts nothing
                continue
        prev = t.type
        lines.update(range(t.start[0], t.end[0] + 1))
    return len(lines)


def main() -> None:
    total = 0
    for path in sorted(ENGINE.rglob("*.py")):
        n = code_lines(path.read_text())
        total += n
        print(f"{n:6d}  {path.relative_to(ENGINE.parent)}")
    print(f"{total:6d}  total")


if __name__ == "__main__":
    main()
