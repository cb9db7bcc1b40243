"""Count the coefficient engine's code lines.

A code line holds a Python token other than a comment or a docstring
(a string that is a statement by itself). The engine core is api,
catalog, validation, adp, session, plans/, formula/ and
functions/math.py.

Usage:
    python tools/code_lines.py [REPO_ROOT]

Prints code and physical lines per file, then the totals.
"""

from __future__ import annotations

import io
import sys
import tokenize
from pathlib import Path

CORE = ("api.py", "catalog.py", "validation.py", "adp.py", "session.py",
        "plans/*.py", "formula/*.py", "functions/math.py")
LAYOUT = {tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE, tokenize.INDENT,
          tokenize.DEDENT, tokenize.ENDMARKER, tokenize.ENCODING}
STATEMENT_START = {tokenize.NEWLINE, tokenize.INDENT, tokenize.DEDENT}


def code_lines(source: str) -> int:
    tokens = list(tokenize.generate_tokens(io.StringIO(source).readline))
    lines: set[int] = set()
    at_start = True  # the next token starts a statement
    for i, tok in enumerate(tokens):
        if tok.type in LAYOUT:
            at_start = at_start or tok.type in STATEMENT_START
            continue
        if tok.type == tokenize.STRING and at_start:
            nxt = next(t for t in tokens[i + 1:] if t.type not in (tokenize.COMMENT, tokenize.NL))
            if nxt.type in (tokenize.NEWLINE, tokenize.ENDMARKER):
                at_start = False
                continue  # a docstring
        at_start = False
        lines.update(range(tok.start[0], tok.end[0] + 1))
    return len(lines)


def main(root: Path) -> None:
    pkg = root / "ssb_coefficient_maker_spark"
    total_code = total_physical = 0
    for path in (p for pattern in CORE for p in sorted(pkg.glob(pattern))):
        source = path.read_text()
        code, physical = code_lines(source), len(source.splitlines())
        total_code += code
        total_physical += physical
        print(f"{code:6d} {physical:6d}  {path.relative_to(root)}")
    print(f"{total_code:6d} {total_physical:6d}  total (code, physical)")


if __name__ == "__main__":
    main(Path(sys.argv[1]) if len(sys.argv) > 1 else Path(__file__).resolve().parent.parent)
