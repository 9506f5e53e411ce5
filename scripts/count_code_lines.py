"""Count Python code lines: lines holding at least one token that is not a
comment, a docstring, or layout (newline, indent, dedent).

A docstring is a string-literal statement that opens a module, class or
function body. Every other string counts as code.

Usage: python scripts/count_code_lines.py FILE_OR_GLOB [...]
Prints one ``<lines>  <path>`` line per file, then ``<total>  total``.
"""

from __future__ import annotations

import glob
import io
import sys
import tokenize

_LAYOUT = {
    tokenize.COMMENT,
    tokenize.NL,
    tokenize.NEWLINE,
    tokenize.INDENT,
    tokenize.DEDENT,
    tokenize.ENCODING,
    tokenize.ENDMARKER,
}


def code_lines(source: str) -> int:
    lines = set()
    # A docstring is a STRING that is the whole statement and comes first
    # in its body: at file start, or right after a ``:`` NEWLINE INDENT.
    expect_doc = True
    prev_op = None
    stmt: list = []
    for tok in tokenize.generate_tokens(io.StringIO(source).readline):
        if tok.type in (tokenize.NEWLINE, tokenize.ENDMARKER):
            if stmt:
                doc = expect_doc and len(stmt) == 1 and stmt[0].type == tokenize.STRING
                if not doc:
                    for t in stmt:
                        lines.update(range(t.start[0], t.end[0] + 1))
                expect_doc = prev_op == ":" and tok.type == tokenize.NEWLINE
            stmt = []
            continue
        if tok.type in _LAYOUT:
            continue
        stmt.append(tok)
        prev_op = tok.string if tok.type == tokenize.OP else None
    return len(lines)


def main(argv: list) -> int:
    paths = []
    for arg in argv:
        paths.extend(sorted(glob.glob(arg)) or [arg])
    total = 0
    for p in paths:
        with open(p, encoding="utf-8") as fh:
            n = code_lines(fh.read())
        total += n
        print(f"{n:6d}  {p}")
    print(f"{total:6d}  total")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
