"""Count code-only and physical lines of Python files.

Code-only lines hold at least one token that is not a comment, a
docstring (any string-constant expression statement) or whitespace.

    python tools/code_loc.py FILE [FILE ...]
"""

from __future__ import annotations

import ast
import io
import sys
import tokenize

SKIP = {tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE, tokenize.INDENT,
        tokenize.DEDENT, tokenize.ENCODING, tokenize.ENDMARKER}


def code_lines(src: str) -> int:
    doc = set()
    for node in ast.walk(ast.parse(src)):
        if (isinstance(node, ast.Expr) and isinstance(node.value, ast.Constant)
                and isinstance(node.value.value, str)):
            doc.update(range(node.lineno, node.end_lineno + 1))
    lines = set()
    for tok in tokenize.generate_tokens(io.StringIO(src).readline):
        if tok.type not in SKIP:
            lines.update(r for r in range(tok.start[0], tok.end[0] + 1)
                         if r not in doc)
    return len(lines)


def main(paths: list[str]) -> None:
    total_code = total_phys = 0
    for p in paths:
        src = open(p, encoding="utf-8").read()
        code, phys = code_lines(src), len(src.splitlines())
        total_code += code
        total_phys += phys
        print(f"{code:6d} {phys:6d}  {p}")
    print(f"{total_code:6d} {total_phys:6d}  total (code-only, physical)")


if __name__ == "__main__":
    main(sys.argv[1:])
