"""Line count of the package: lines of ``hiispider_spark/**/*.py`` that
carry a non-comment token.

A line counts when any token other than a comment, a newline, an
indent or a dedent starts, ends or continues on it. Docstrings and
other strings are tokens, so every line a multi-line string spans
counts, blank ones inside it too. Blank lines and comment-only lines
outside strings do not count. Stdlib only, no flags:

    python tools/ncloc.py
"""

from __future__ import annotations

import tokenize
from pathlib import Path

PACKAGE = Path(__file__).resolve().parent.parent / "hiispider_spark"
NOT_CODE = {
    tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE, tokenize.INDENT,
    tokenize.DEDENT, tokenize.ENDMARKER, tokenize.ENCODING,
}


def code_lines(path: Path) -> int:
    lines: set[int] = set()
    with open(path, "rb") as f:
        for tok in tokenize.tokenize(f.readline):
            if tok.type not in NOT_CODE:
                lines.update(range(tok.start[0], tok.end[0] + 1))
    return len(lines)


def main() -> None:
    print(sum(code_lines(p) for p in sorted(PACKAGE.rglob("*.py"))))


if __name__ == "__main__":
    main()
